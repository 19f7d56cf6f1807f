package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VectorOps
import TestSpark._

class VectorOpsSpec extends AnyFunSuite {

  /** 60 seeded random unit-ish vectors; ids 0-4 each get a near-identical
    * twin at id 100+i (cos ≈ 0.999). */
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

  test("incremental embedding near-dup equals all-pairs filtered to the delta") {
    val incoming = fixture.filter(col("vec_id") % 10 === 0)
    val existing = fixture.filter(col("vec_id") % 10 =!= 0)
    val inc = VectorOps.nearDupEmbeddingIncremental(existing, incoming, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incIds = incoming.select("vec_id").collect().map(_.getLong(0)).toSet
    val full = VectorOps.nearDupEmbedding(fixture, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => incIds(p._1) || incIds(p._2)).toSet
    assert(inc == full, s"inc-only=${inc -- full}, full-only=${full -- inc}")
    assert(inc.nonEmpty, "planted twins (0,100) and (100*, even ids) should pair")
  }

  test("LSH-blocked incremental near-dup: precision exact, recall high vs the exact delta arm") {
    val incoming = fixture.filter(col("vec_id") % 10 === 0)
    val existing = fixture.filter(col("vec_id") % 10 =!= 0)
    val exact = VectorOps.nearDupEmbeddingIncremental(existing, incoming, minCos = 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.nearDupEmbeddingIncrementalLsh(existing, incoming, minCos = 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted twins touching the delta should pair")
    assert(lsh.subsetOf(exact), "exact-cosine filter must make precision exact")
    assert((exact & lsh).size.toDouble / exact.size >= 0.99,
      s"recall ${(exact & lsh).size}/${exact.size}")
    // every returned pair touches the incoming batch (delta-proportional contract)
    val incIds = incoming.select("vec_id").collect().map(_.getLong(0)).toSet
    lsh.foreach { case (a, b) => assert(incIds(a) || incIds(b), s"pair ($a,$b) off-delta") }
  }

  test("label centroids match a driver-side mean") {
    val out = VectorOps.labelCentroids(fixture).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val rows = fixture.select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val byLabel = rows.groupBy(_._1)
    byLabel.foreach { case (label, vs) =>
      val n = vs.length
      (0 until 64).foreach { d =>
        val mean = vs.map(_._2(d).toDouble).sum / n
        val (got, gotN) = out((label, d))
        assert(gotN == n)
        assert(math.abs(got - mean) < 1e-5, s"label $label dim $d: $got vs $mean")
      }
    }
  }

  test("LSH finds the planted near-identical twins as top-1") {
    val top1 = VectorOps.annLsh(fixture, nQueries = 5, k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(top1.get(i.toLong).contains(100L + i),
        s"query $i: expected twin ${100 + i}, got ${top1.get(i.toLong)}")
    }
  }

  test("LSH cosines agree with brute force on shared pairs") {
    val bf = VectorOps.annBruteForce(fixture, nQueries = 5, k = 30)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = VectorOps.annLsh(fixture, nQueries = 5, k = 5).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bf.get(key).foreach(c => assert(c == r.getAs[Double]("cos_sim")))
    }
  }

  test("exact near-dup pairs recover exactly the planted twins at cos >= 0.9") {
    val pairs = VectorOps.nearDupEmbedding(fixture, minCos = 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 5).map(i => (i.toLong, 100L + i)).toSet)
  }

  test("IVF finds the planted near-identical twins as top-1") {
    val top1 = VectorOps.annIvf(fixture, nQueries = 5, k = 1, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(top1.get(i.toLong).contains(100L + i),
        s"query $i: expected twin ${100 + i}, got ${top1.get(i.toLong)}")
    }
  }

  test("IVF recall vs brute force is high at nprobe=nlist (exhaustive probing)") {
    // nprobe == nlist probes every cell: candidate set = whole corpus,
    // so the result must equal brute force exactly.
    val bf = VectorOps.annBruteForce(fixture, nQueries = 5, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.annIvf(fixture, nQueries = 5, k = 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == bf)
  }

  test("PQ with rerank over the whole corpus degrades to exact brute force") {
    val bf = VectorOps.annBruteForce(fixture, nQueries = 5, k = 5)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pq = VectorOps.annPq(fixture, nQueries = 5, k = 5, rerank = 1000)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pq == bf)
  }

  test("PQ finds the planted twins as top-1 at the default rerank budget") {
    val top1 = VectorOps.annPq(fixture, nQueries = 5, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(top1(i.toLong) == 100L + i, s"query $i -> ${top1(i.toLong)}")
    }
  }

  test("PQ recall@5 vs brute force stays high at the default budget") {
    val bf = VectorOps.annBruteForce(fixture, nQueries = 5, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.annPq(fixture, nQueries = 5, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("SQ ANN at a corpus-sized shortlist equals exact brute force bit-for-bit") {
    // shortlist >= |corpus| means no candidate is cut before the exact
    // re-rank — the result must be IDENTICAL to annBruteForce, including
    // the 6dp cosines and the rank numbers.
    val exact = VectorOps.annBruteForce(fixture, nQueries = 5, k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val sq = VectorOps.annSq(fixture, nQueries = 5, k = 5, shortlist = 10000)
      .select("query_id", "neighbor_id", "cos_sim", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sq == exact, s"sq-only=${sq -- exact}, exact-only=${exact -- sq}")
  }

  test("SQ ANN finds the planted twins as top-1 at the default shortlist") {
    val top1 = VectorOps.annSq(fixture, nQueries = 5, k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(top1(i.toLong) == 100L + i, s"query $i -> ${top1(i.toLong)}")
    }
  }

  test("SQ approximate scores track the exact cosine within the int8 grid error") {
    // midpoint reconstruction error is <= (mx-mn)/512 per dimension; on
    // 64-dim gaussian vectors the induced cosine error stays well under
    // 0.05 — a collapsed bound here would mean the grid or the
    // dequantization arithmetic is wrong, not just noisy.
    val rows = VectorOps.annSq(fixture, nQueries = 5, k = 5)
      .select("sq_sim", "cos_sim").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.05,
        s"sq=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
  }

  /** [[fixture]] plus 5 planted mid-band vectors: id 200+i mixes base(i)
    * with fresh noise at equal power, so cos(base(i), 200+i) ≈ 0.7071/
    * (norm ratio) — landing inside the default [0.3, 0.6) negative band
    * often enough to give every anchor a plantable hard negative. */
  private lazy val tripletFixture = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val base = fixture.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val mids = (0 until 5).map { i =>
      val b = base.find(_._1 == i.toLong).get._2
      val v = b.map(x => 0.55f * x).zip(
        Array.fill(64)(rnd.nextGaussian().toFloat)).map { case (x, n) => x + 0.9f * n }
      (200L + i, v, i)
    }
    (base.toSeq ++ mids).toDF("vec_id", "embedding", "label")
  }

  test("contrastive triplets: exact twin semantics — hardest positive, in-band hardest negatives") {
    val out = VectorOps.contrastiveTripletsExact(tripletFixture)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3), r.getDouble(4), r.getInt(5)))
    assert(rows.nonEmpty, "planted twins should give anchors a positive")
    // every positive is at/above the threshold, every negative in-band
    rows.foreach { case (a, p, pc, n, nc, rk) =>
      assert(pc >= 0.8, s"anchor $a pos_cos $pc")
      assert(nc >= 0.3 && nc < 0.6, s"anchor $a neg_cos $nc")
      assert(rk >= 1 && rk <= 2)
      assert(p != a && n != a && p != n)
    }
    // anchors 0..4 pair with their planted twins (100+i) as the positive
    val posOf = rows.map(t => t._1 -> t._2).toMap
    (0 until 5).foreach { i =>
      posOf.get(i.toLong).foreach(p => assert(p == 100L + i, s"anchor $i pos $p"))
    }
    // negatives are the HARDEST in band: rank-1 neg_cos >= rank-2 neg_cos
    rows.groupBy(_._1).foreach { case (a, ts) =>
      val byRank = ts.sortBy(_._6).map(_._5).toSeq
      assert(byRank == byRank.sorted.reverse, s"anchor $a negs not hardest-first")
    }
  }

  test("contrastive triplets: LSH arm is a subset of the exact twin with positive recall") {
    val exact = VectorOps.contrastiveTripletsExact(tripletFixture)
      .select("anchor_id", "pos_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.contrastiveTriplets(tripletFixture)
      .select("anchor_id", "pos_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // every LSH-mined positive is a true >= minPos pair for its anchor:
    // band membership is exact cosine, so a "wrong" positive can only be
    // a SOFTER true positive the exact twin outranked — tolerate that,
    // but the planted-twin anchors must recover their exact positives
    val twinAnchors = lsh.filter { case (a, _) => a < 5 || (a >= 100 && a < 105) }
    assert(twinAnchors.subsetOf(exact),
      s"twin-anchor positives diverge: ${twinAnchors -- exact}")
    val recall = lsh.count(exact).toDouble / exact.size
    assert(recall >= 0.6, s"anchor-positive recall $recall over ${exact.size}")
  }

  test("LSH-blocked all-pairs near-dup recovers the exact pairs at cos >= 0.9") {
    val exact = VectorOps.nearDupEmbedding(fixture, minCos = 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.nearDupEmbeddingLsh(fixture, minCos = 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "exact-cosine filter must make precision exact")
    assert((exact & lsh).size.toDouble / exact.size >= 0.99,
      s"recall ${(exact & lsh).size}/${exact.size}")
  }

  test("near-dup LSH holds the production recall contract (>= 0.9) on real testdata") {
    // The r9 default (targetRecall = 0.46) missed half the true pairs at
    // threshold — the one number a curation user would reject. This pin
    // measures the SHIPPED default against the exact arm on the real
    // sf0.001 embeddings (500 gaussian vectors, chance-dominated pairs —
    // the hard regime for LSH; planted-twin tests cover the easy one).
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = VectorOps.nearDupEmbedding(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.nearDupEmbeddingLsh(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "sf0.001 should have pairs at the default threshold")
    assert(lsh.subsetOf(exact), "exact-cosine filter must make precision exact")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"default recall $recall (${(exact & lsh).size}/${exact.size})")
    // and the explicit cheap mode stays available (weaker, cheaper)
    val cheap = VectorOps.nearDupEmbeddingLsh(emb,
        targetRecall = VectorOps.CheapRecall)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cheap.subsetOf(exact))
  }

  test("Hamming-2 multi-probe holds the recall contract with fewer tables") {
    // probing every <=2-flip bucket raises the per-table collision
    // probability enough that ~3x fewer tables hold the same target
    // recall (the Lv et al. trade, extended one flip) — precision stays
    // exact (true cosine filters candidates) and the shipped recall
    // gate must hold on the chance-dominated real embeddings
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pln = VectorOps.sizedPlanes(emb.count(), slack = 5)
    assert(VectorOps.sizedTablesMp(pln, 0.45, 0.9, flips = 2) <
      VectorOps.sizedTablesMp(pln, 0.45, 0.9, flips = 1))
    val exact = VectorOps.nearDupEmbedding(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val h2 = VectorOps.nearDupEmbeddingLsh(emb, probeFlips = 2)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h2.subsetOf(exact), "exact-cosine filter must make precision exact")
    val recall = (exact & h2).size.toDouble / exact.size
    assert(recall >= 0.9, s"H2 recall $recall (${(exact & h2).size}/${exact.size})")
  }

  test("kNN join finds each planted twin as its query's top-1 neighbor") {
    // left = the 5 twin vectors (100..104), right = the 60 base vectors:
    // twin i's nearest base neighbor is i (cos ≈ 0.999) by construction.
    val left = fixture.filter(col("vec_id") >= 100)
    val right = fixture.filter(col("vec_id") < 100)
    val top1 = VectorOps.knnJoinLsh(left, right, k = 3)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(top1.get(100L + i) === Some(i.toLong),
        s"twin ${100 + i} should retrieve base $i, got ${top1.get(100L + i)}")
    }
  }

  test("kNN join recall@k vs the exact join stays high; shape invariants hold") {
    val left = fixture.filter(col("vec_id") % 3 === 0)
    val right = fixture.filter(col("vec_id") % 3 =!= 0)
    // Random gaussian vectors have ~70° "nearest" neighbors, where
    // narrow buckets legitimately miss (measured ~0.25 recall at
    // planes=6 — that is LSH physics, not a bug; the planted-twin test
    // covers the actually-close regime). Wider buckets (planes=2,
    // tables=12: 1-(1-(1-θ/π)²)¹² ≈ 0.999 at θ=70°) must recover the
    // exact join almost everywhere.
    val got = VectorOps.knnJoinLsh(left, right, k = 3, planes = 2, tables = 12)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // ≤ k rows per left id, ranks contiguous from 1
    got.groupBy(_._1).foreach { case (lid, rows) =>
      assert(rows.length <= 3, s"left $lid returned ${rows.length} rows")
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length), s"ranks of $lid")
    }
    // neighbors only from the right side
    val rightIds = right.select("vec_id").collect().map(_.getLong(0)).toSet
    got.foreach { case (_, rid, _) => assert(rightIds(rid)) }
    // recall vs exact top-3 via the brute-force cross join
    graft.functions.VecDot.register(spark)
    val exact = left.select(col("vec_id").as("l"), col("embedding").as("a"))
      .crossJoin(right.select(col("vec_id").as("r"), col("embedding").as("b")))
      .select(col("l"), col("r"),
        (graft.functions.VecDot(col("a"), col("b"))
          / (sqrt(graft.functions.VecDot(col("a"), col("a")))
            * sqrt(graft.functions.VecDot(col("b"), col("b"))))).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l"))
          .orderBy(col("cos").desc, col("r"))))
      .filter(col("rk") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    val recall = (exact & gotPairs).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("codegen'd VecDot is bit-identical to the HOF fold") {
    graft.functions.VecDot.register(spark)
    val pairs = fixture.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(fixture.limit(5).select(col("embedding").as("b")))
    val diffs = pairs.select(
      (graft.functions.VecDot(col("a"), col("b")) -
        graft.functions.VectorFns.dotHof(col("a"), col("b"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diffs == 0)
  }

  test("brute-force ranks are dense and bounded") {
    val out = VectorOps.annBruteForce(fixture, nQueries = 3, k = 4)
    assert(out.count() == 12)
    val ranks = out.groupBy("query_id").agg(max("rn"), count(lit(1))).collect()
    ranks.foreach { r => assert(r.getInt(1) == 4 && r.getLong(2) == 4) }
  }

  test("kmeans: every vector sits on its nearest centroid, reproducibly") {
    val out = VectorOps.kmeans(fixture, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(out.length == 65 && out.map(_._1).distinct.length == 65)
    // the reported sim is the max over clusters: recompute per row from
    // the same operator output by re-running (determinism) and checking
    // each row's sim is >= the sim of every other vector's centroid
    // choice would need raw centroids; instead pin: rerun is identical
    val again = VectorOps.kmeans(fixture, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq,
      "kmeans must be deterministic (seeded init, rounded argmax)")
    // planted twins co-cluster with their originals: cos≈0.999 pairs
    // cannot land on different centroids
    val cid = out.map(t => t._1 -> t._2).toMap
    (0 until 5).foreach(i =>
      assert(cid(i.toLong) == cid(100L + i), s"twin $i split across clusters"))
    assert(out.map(_._2).distinct.length > 1, "k=4 should populate >1 cluster")
    assert(out.forall(t => t._3 >= -1.0 - 1e-9 && t._3 <= 1.0 + 1e-9))
  }

  test("kmeans: md5-ranked init stays non-degenerate on an id-correlated corpus") {
    // The real-scale failure the seed rule defends against: ingest order
    // clusters similar vectors at adjacent ids (same crawl batch), so
    // "first k by vec_id" would pick k near-identical seeds and every
    // point would tie-break into cluster 0. Fixture: ids 0..9 are one
    // tight blob (the old seed window), ids 10..59 form three other
    // well-separated blobs. md5-ranked seeds are drawn across the id
    // space, so >1 cluster must be populated.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val dims = 16
    def blob(center: Int) = Array.tabulate(dims)(d =>
      (if (d == center) 10f else 0f) + 0.05f * rnd.nextGaussian().toFloat)
    val rows = (0 until 10).map(i => (i.toLong, blob(0), 0)) ++
      (10 until 60).map(i => (i.toLong, blob(1 + i % 3), 1 + i % 3))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = VectorOps.kmeans(df, k = 4, iters = 2).collect()
    val populated = out.map(_.getInt(1)).distinct.length
    assert(populated > 1,
      s"id-correlated corpus collapsed to $populated cluster(s) — seed rule regressed")
    // and the blob structure is actually recovered: each of the 4 blobs
    // lands in ONE cluster (tight blobs cannot straddle centroids)
    val byLabel = out.map(r => (r.getLong(0), r.getInt(1)))
      .groupBy { case (id, _) => rows.find(_._1 == id).get._3 }
    byLabel.foreach { case (label, members) =>
      assert(members.map(_._2).distinct.length == 1, s"blob $label split")
    }
  }

  test("embedding drift PSI: same-distribution snapshots quiet, a topic shift alarms") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    def blob(center: Int, dims: Int = 16) = Array.tabulate(dims)(d =>
      (if (d == 4 * center) 10f else 0f) + 0.05f * rnd.nextGaussian().toFloat)
    // reference: 3 topics evenly mixed over ids
    val ref = (0 until 60).map(i => (i.toLong, blob(i % 3)))
    // current A: the same mix — no drift
    val same = (100 until 160).map(i => (i.toLong, blob(i % 3)))
    // current B: a topic flood — 90% of mass in topic 0
    val flood = (200 until 260).map(i =>
      (i.toLong, blob(if (i % 10 < 9) 0 else 1)))
    def psi(cur: Seq[(Long, Array[Float])]): Double =
      VectorOps.embeddingDriftPsi(
        ref.toDF("vec_id", "embedding"), cur.toDF("vec_id", "embedding"), k = 3)
        .head().getDouble(0)
    val quiet = psi(same)
    val loud = psi(flood)
    assert(quiet < 0.05, s"same-mix snapshot flagged: $quiet")
    assert(loud > 0.25, s"topic flood missed: $loud")
  }

  test("kmeans: a second Lloyd iteration does not decrease mean similarity") {
    def meanSim(iters: Int) = VectorOps.kmeans(fixture, k = 4, iters = iters)
      .agg(avg("sim")).collect()(0).getDouble(0)
    // Lloyd monotonicity holds for the (cosine, mean-centroid) pair on
    // near-unit vectors up to the 6dp rounding; allow that epsilon
    assert(meanSim(2) >= meanSim(1) - 1e-5)
  }

  test("semantic dedup: kept set has no lower-id near-twin in-cluster; twins dedup") {
    val s = spark
    val kept = VectorOps.semanticDedup(fixture, k = 4, iters = 2, minCos = 0.9)
    val asg = VectorOps.kmeans(fixture, k = 4, iters = 2).select("vec_id", "cid")
    // dropped = all - kept; every dropped id must have a kept-or-dropped
    // lower-id witness in its cluster above the threshold, and no kept
    // pair in the same cluster may exceed the threshold
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    val cidOf = asg.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairs = VectorOps.nearDupEmbedding(fixture, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.filter { case (a, b) => cidOf(a) == cidOf(b) }.foreach { case (a, b) =>
      assert(!(keptIds(a) && keptIds(b)),
        s"near-twins $a,$b share cluster ${cidOf(a)} but both survived")
    }
    // the 5 planted twin pairs are near-identical, so they co-cluster
    // (pinned above) and exactly one of each pair survives
    (0 until 5).foreach { i =>
      assert(keptIds(i.toLong) && !keptIds(100L + i),
        s"twin pair ($i, ${100 + i}): lower id must survive, higher must drop")
    }
    assert(keptIds.size == 60, "exactly the 5 planted twins drop at cos>=0.9")
  }

  test("dim trade study: full-dim recall is exactly 1; prefix recalls bounded and ordered") {
    val out = VectorOps.annDimTradeoff(fixture).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(64, 32, 16))
    assert(out(64) == 1.0, s"full-dim vs itself must be perfect: ${out(64)}")
    out.values.foreach(v => assert(v >= 0 && v <= 1))
    // 16-dim prefixes on gaussian vectors can't beat 32-dim on average
    // at this fixture size — and BOTH must retain signal (>0)
    assert(out(32) > 0 && out(16) > 0, s"prefix recall collapsed: $out")
  }

  test("dim trade study: prefix-identical twins are found at every dimension") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // 40 background vectors + for each query 0..2 a twin identical in
    // ALL dims: the twin must be the #1 neighbor at 64, 32 and 16 dims,
    // so recall@5 over the twin queries is 1 at every dimension
    val base = (0 until 40).map(i => ((i + 10).toLong,
      Array.fill(64)(rnd.nextGaussian().toFloat), 0))
    val queries = (0 until 3).map(i => (i.toLong,
      Array.fill(64)(rnd.nextGaussian().toFloat), 0))
    val twins = queries.map { case (id, v, _) => (100L + id, v.clone(), 0) }
    val df = (base ++ queries ++ twins).toDF("vec_id", "embedding", "label")
    val perQuery = VectorOps.annDimTradeoff(df, nQueries = 3, k = 1).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // k=1: the only counted hit is the top neighbor; identical twins tie
    // at cos=1 for every prefix and win on the id tie-break at all dims
    assert(perQuery == Map(64 -> 1.0, 32 -> 1.0, 16 -> 1.0), s"got $perQuery")
  }

  test("kNN label prop: exact arm matches a driver-side replay of the vote semantics") {
    val out = VectorOps.knnLabelProp(fixture, k = 5, maskMod = 5).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val all = fixture.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val labeled = all.filter(_._1 % 5 != 0)
    val queries = all.filter(_._1 % 5 == 0)
    assert(queries.nonEmpty && out.size == queries.length)
    queries.foreach { case (qid, qv, _) =>
      val top = labeled.map { case (id, v, lab) => (id, lab, cos(qv, v)) }
        .sortBy { case (id, _, c) => (-c, id) }.take(5)
      val (predLab, votes) = top.groupBy(_._2).view
        .mapValues(_.size).toSeq.sortBy { case (lab, n) => (-n, lab) }.head
      val meanSim = top.map(_._3).sum / 5
      val (gotLab, gotVotes, gotMean) = out(qid)
      assert(gotLab == predLab && gotVotes == votes.toLong,
        s"q $qid: got ($gotLab, $gotVotes) want ($predLab, $votes)")
      assert(math.abs(gotMean - meanSim) < 2e-6, s"q $qid mean $gotMean vs $meanSim")
    }
  }

  /** 3 well-separated clusters × 15 members; labels = cluster id, so a
    * vote from ANY subset of the true neighborhood predicts the right
    * label — the property that makes the probabilistic-recall LSH arm
    * assertable, not just runnable. */
  private lazy val clusterFixture = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val cents = Array.fill(3)(Array.fill(64)(rnd.nextGaussian()))
    val rows = for {
      c <- 0 until 3
      i <- 0 until 15
    } yield ((c * 15 + i).toLong,
      cents(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat), c)
    rows.toDF("vec_id", "embedding", "label")
  }

  test("kNN label prop: both arms recover planted cluster labels; LSH agrees with exact") {
    val exact = VectorOps.knnLabelProp(clusterFixture, k = 5, maskMod = 5).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lsh = VectorOps.knnLabelPropLsh(clusterFixture, k = 5, maskMod = 5).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(exact.nonEmpty)
    // tight clusters: every masked vector votes its own cluster
    exact.foreach { case (qid, lab) =>
      assert(lab == (qid / 15).toInt, s"exact q $qid -> $lab")
    }
    assert(lsh.nonEmpty, "within-cluster cos≈1 ⇒ buckets must collide")
    lsh.foreach { case (qid, lab) =>
      assert(lab == exact(qid), s"lsh q $qid -> $lab vs exact ${exact(qid)}")
    }
  }
}
