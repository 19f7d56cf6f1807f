package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VectorOps
import graft.streaming.VectorStream
import graft.streaming.VectorStream.CentroidRefresh
import TestSpark._

/** Streaming centroid refresh vs batch kmeans: at decay 0 a micro-batch
  * IS one Lloyd iteration (pinned bit-for-bit), and the incremental
  * default converges to the batch assignment at end-of-log. */
class VectorStreamSpec extends AnyFunSuite {

  /** Same shape as VectorOpsSpec's fixture: 60 seeded vectors, ids 0-4
    * twinned at 100+i. */
  private lazy val fixture = {
    val s = spark
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val twins = (0 until 5).map { i =>
      val v = base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      (100L + i, v)
    }
    base ++ twins
  }
  private lazy val fixtureDf = {
    val s = spark
    import s.implicits._
    fixture.toDF("vec_id", "embedding")
  }

  private def runBatches(refresh: CentroidRefresh,
      batches: Seq[Seq[(Long, Array[Float])]]): Unit = {
    val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, Array[Float])](s)
    val q = VectorStream
      .refreshWriter(input.toDF().toDF("vec_id", "embedding"), refresh)
      .start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }

  test("decay 0: replaying the corpus per batch equals batch Lloyd, bit for bit") {
    val seeds = VectorOps.seedCentroids(VectorOps.prepared(fixtureDf), 4)
    val refresh = new CentroidRefresh(seeds, decay = 0.0)
    // two full-corpus micro-batches == kmeans(iters = 2)
    runBatches(refresh, Seq(fixture, fixture))
    assert(refresh.batchesSeen == 2)
    val streamed = refresh.assign(fixtureDf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    val batch = VectorOps.kmeans(fixtureDf, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq,
      "two decay-0 refresh rounds must replay the exact batch Lloyd trajectory")
  }

  test("incremental default: end-of-log assignment converges to batch kmeans") {
    // convergence is only a meaningful claim on data WITH cluster
    // structure (on isotropic noise, any two k-means runs disagree on
    // boundary points arbitrarily): 4 tight well-separated blobs,
    // blob-interleaved ids so every micro-batch slice sees all blobs
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    def blobVec(b: Int) = Array.tabulate(16)(d =>
      (if (d == 4 * b) 10f else 0f) + 0.05f * rnd.nextGaussian().toFloat)
    val blobs = (0 until 64).map(i => (i.toLong, blobVec(i % 4)))
    val blobsDf = blobs.toDF("vec_id", "embedding")
    val seeds = VectorOps.seedCentroids(VectorOps.prepared(blobsDf), 4)
    val refresh = new CentroidRefresh(seeds) // decay = 1.0
    // disjoint 4-batch split in id order — each batch only a slice
    runBatches(refresh, blobs.grouped(16).toSeq)
    val streamed = refresh.assign(blobsDf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = VectorOps.kmeans(blobsDf, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // each tight blob lands whole in ONE cluster under both models
    (0 until 4).foreach { b =>
      val ids = blobs.collect { case (id, _) if id % 4 == b => id }
      assert(ids.map(streamed).distinct.size == 1, s"stream split blob $b")
      assert(ids.map(batch).distinct.size == 1, s"batch split blob $b")
    }
    // convergence: the two assignments agree (modulo cluster
    // relabeling) on a large majority — greedy best-match per cluster
    val agree = streamed.groupBy(_._2).values.map { members =>
      members.keys.groupBy(batch).values.map(_.size).max
    }.sum
    assert(agree.toDouble / streamed.size >= 0.9,
      s"only $agree/${streamed.size} agree with batch kmeans after relabeling")
    assert(streamed.values.toSeq.distinct.size > 1, "stream collapsed to one cluster")
  }

  test("decay outside [0,1] and empty seeds are rejected") {
    val seeds = Seq((0, Array(1.0, 0.0)))
    intercept[IllegalArgumentException](new CentroidRefresh(seeds, decay = 1.5))
    intercept[IllegalArgumentException](new CentroidRefresh(Nil))
  }
}
