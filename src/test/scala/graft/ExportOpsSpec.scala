package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ExportOps
import TestSpark._

/** Deterministic shard export: the LCG pseudo-shuffle, the manifest, and
  * the writer's reproducibility contract. */
class ExportOpsSpec extends AnyFunSuite {
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def lcg(docId: Long): Long =
    java.lang.Math.floorMod(docId * 1103515245L + 12345L, 2147483648L)

  test("manifest replays the LCG assignment exactly (driver cross-check)") {
    val n = 8
    val rows = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = rows
      .map { case (id, ch) => (lcg(id) % n, id, ch, lcg(id)) }
      .groupBy(_._1)
      .map { case (shard, g) =>
        shard -> (g.length.toLong, g.map(_._3).sum,
          g.minBy(_._4)._2, g.maxBy(_._4)._2, g.map(_._4).sum)
      }
    val got = ExportOps.shardManifest(docs, n).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (shard, e) =>
      assert(got(shard) == e, s"shard $shard: got ${got(shard)} want $e")
    }
    assert(got.values.map(_._1).sum == rows.length.toLong, "every doc in exactly one shard")
  }

  test("LCG is injective on the doc_id range (the shuffle is a permutation)") {
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val hs = ids.map(lcg)
    assert(hs.distinct.length == ids.length)
  }

  test("balanced manifest: round-robin by length rank, char mass far tighter than hash sharding") {
    val n = 8
    val bal = ExportOps.shardManifestBalanced(docs, n).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hash = ExportOps.shardManifest(docs, n).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bal.keySet == (0L until n).toSet)
    // counts differ by at most 1 (dealing)
    val cnts = bal.values.map(_._1)
    assert(cnts.max - cnts.min <= 1, s"deal counts: $bal")
    // driver replay: global (n_chars, doc_id) sort dealt round-robin
    val rows = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, ch) => (ch, id) }
    val expect = rows.zipWithIndex
      .groupBy { case (_, i) => (i % n).toLong }
      .map { case (s0, g) => s0 -> (g.length.toLong, g.map(_._1._2).sum) }
    assert(bal == expect, s"balanced manifest diverges from the driver replay")
    // the point of the operator: char-mass spread collapses vs hash shards
    def spread(m: Map[Long, (Long, Long)]): Double = {
      val masses = m.values.map(_._2.toDouble)
      (masses.max - masses.min) / (masses.sum / masses.size)
    }
    assert(spread(bal) < spread(hash) / 2,
      s"balanced spread ${spread(bal)} vs hash ${spread(hash)}")
  }

  test("writeShards: re-export is row-identical, shards partition the corpus, h-sorted files") {
    val n = 4
    val dir1 = TestSpark.tempDir("graft_shards1").toString
    val dir2 = TestSpark.tempDir("graft_shards2").toString
    ExportOps.writeShards(docs, dir1, n)
    ExportOps.writeShards(docs, dir2, n)
    val r1 = spark.read.parquet(dir1)
    val r2 = spark.read.parquet(dir2)
    // partition: every doc exactly once, shard dirs complete
    assert(r1.count() == docs.count())
    assert(r1.select("shard").distinct().count() == n.toLong)
    // determinism: identical (doc_id, shard, h) content across exports
    val s1 = r1.select("doc_id", "shard", "h").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val s2 = r2.select("doc_id", "shard", "h").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(s1 == s2)
    // shard assignment matches the manifest's aggregate view
    val manifest = ExportOps.shardManifest(docs, n).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = r1.groupBy("shard").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(counts == manifest)
    // within each shard file, rows are in shuffle (h) order
    val shardDirs = new java.io.File(dir1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == n)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: one task per shard writes one file")
      val hseq = spark.read.parquet(files.head.toString)
        .select("h").collect().map(_.getLong(0)).toSeq
      assert(hseq == hseq.sorted, s"${d.getName} not h-sorted")
    }
  }
}
