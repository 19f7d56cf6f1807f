package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.VectorIndex
import graft.ops.VectorOps
import TestSpark._

/** The persisted build-once/probe-many ANN index
  * ([[graft.incremental.VectorIndex]]): probes answered from the stored
  * quantizer/cells/postings must agree exactly with the inline
  * operators they amortize, absorb must be idempotent per tag, probes
  * must file-prune to the probed cells, and parameter drift between
  * builder and prober must fail loudly. */
class VectorIndexSpec extends AnyFunSuite {

  /** Same planted-twin fixture shape as VectorOpsSpec. */
  private lazy val fixture = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec(), i % 10))
    val twins = (0 until 5).map { i =>
      val v = base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      (100L + i, v, i)
    }
    (base ++ twins).toDF("vec_id", "embedding", "label")
  }

  private def freshDir(): String =
    TestSpark.tempDir("graft-vidx-spec").toString

  test("probe from the persisted index equals inline annIvf when built over the same corpus") {
    val idx = new VectorIndex(spark, freshDir())
    idx.build(fixture)
    val indexed = idx.probe(fixture.filter(col("vec_id") < 10)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val inline = VectorOps.annIvf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(indexed == inline,
      s"indexed-only=${indexed -- inline}, inline-only=${inline -- indexed}")
    assert(indexed.nonEmpty)
  }

  test("absorb folds a delta under the FROZEN quantizer, idempotently per tag") {
    val base = fixture.filter(col("vec_id") % 10 =!= 0)
    val delta = fixture.filter(col("vec_id") % 10 === 0)
    val idx = new VectorIndex(spark, freshDir(), withLsh = true)
    idx.build(base)
    val baseRows = idx.cellsTbl.read().count()
    idx.absorb(delta, tag = "b1")
    val afterRows = idx.cellsTbl.read().count()
    assert(afterRows == baseRows + delta.count())
    // replaying the SAME batch tag is a no-op on every sub-table
    idx.absorb(delta, tag = "b1")
    assert(idx.cellsTbl.read().count() == afterRows)
    assert(idx.cellsTbl.currentTag.contains("b1"))
    assert(idx.bucketsTbl.currentTag.contains("b1"))
    // absorbed vectors are probe-visible: a planted twin of a base
    // vector arrives with the delta and must surface as its neighbor
    val res = idx.probe(fixture.filter(col("vec_id") === 2L), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res.nonEmpty, "probe over base+delta cells returned nothing")
  }

  test("IVF probe file-prunes: only the probed cells' files are listed") {
    val idx = new VectorIndex(spark, freshDir())
    idx.build(fixture)
    val total = idx.cellsTbl.read().inputFiles.length
    idx.probe(fixture.filter(col("vec_id") === 0L), k = 3, nprobe = 1).collect()
    val kept = idx.cellsTbl.lastListedFiles
    assert(kept >= 1 && kept < total,
      s"nprobe=1 over $total cell files should open a strict subset, opened $kept")
  }

  test("probeNearDup equals the inline LSH delta arm at the index's frozen geometry") {
    val base = fixture.filter(col("vec_id") % 10 =!= 0)
    val delta = fixture.filter(col("vec_id") % 10 === 0)
    val idx = new VectorIndex(spark, freshDir(), withLsh = true)
    idx.build(base)
    val indexed = idx.probeNearDup(delta, minCos = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the inline twin at the SAME geometry the index froze from the base count
    val pln = VectorOps.sizedPlanes(base.count(), slack = 5)
    val tbl = VectorOps.sizedTablesMp(pln, 0.45, 0.9, 1)
    val inline = VectorOps.nearDupEmbeddingIncrementalLsh(
      base, delta, minCos = 0.9, planes = pln, tables = tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == inline,
      s"indexed-only=${indexed -- inline}, inline-only=${inline -- indexed}")
    assert(indexed.nonEmpty, "planted twins touching the delta should pair")
  }

  test("parameter drift between builder and prober fails loudly; unbuilt index fails loudly") {
    val dir = freshDir()
    new VectorIndex(spark, dir, nlist = 8).build(fixture)
    val e = intercept[IllegalStateException](
      new VectorIndex(spark, dir, nlist = 16)
        .probe(fixture.filter(col("vec_id") < 5)))
    assert(e.getMessage.contains("different parameters"))
    val e2 = intercept[IllegalStateException](
      new VectorIndex(spark, freshDir()).probe(fixture))
    assert(e2.getMessage.contains("build it first"))
    // an LSH probe against an IVF-only index points at the rebuild
    val dir2 = freshDir()
    new VectorIndex(spark, dir2).build(fixture)
    val e3 = intercept[IllegalArgumentException](
      new VectorIndex(spark, dir2).probeNearDup(fixture))
    assert(e3.getMessage.contains("no LSH postings"))
  }
}
