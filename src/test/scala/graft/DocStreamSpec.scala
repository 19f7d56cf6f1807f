package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.streaming.DocStream
import TestSpark._

/** Top-level so the product encoder needs no outer instance. */
case class Doc(doc_id: Long, text: String, ingest_ts: Timestamp)

class DocStreamSpec extends AnyFunSuite {

  private val good1 = ("the quick brown fox jumps over the lazy dog and then " +
    "keeps running through the quiet field while the sun sets slowly") // 22 toks
  private val good2 = ("a second perfectly ordinary document with more than " +
    "twenty words of plain text that should pass every one of the quality rules")
  private val short_ = "too short"
  // same content as good1 but shifted case + extra whitespace: the
  // NORMALIZED fingerprint must collide
  private val good1Variant = good1.toUpperCase + "   "

  test("streaming ingest admits quality docs once per normalized fingerprint") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[Doc](s)
    // minQuality=1.0: every rule must pass — the short doc fails the
    // length rule (score 0.75) and must be rejected
    val q = DocStream.ingestFilter(input.toDF(), watermarkDelay = "1 hour",
      minQuality = 1.0)
      .writeStream.format("memory").queryName("doc_ingest").outputMode("append").start()
    try {
      input.addData(
        Doc(1, good1, ts("2024-05-01 00:00:00")),
        Doc(2, short_, ts("2024-05-01 00:01:00"))) // quality-rejected
      q.processAllAvailable()
      assert(spark.table("doc_ingest").select("doc_id").collect()
        .map(_.getLong(0)).toSeq == Seq(1L))

      input.addData(
        Doc(3, good1, ts("2024-05-01 00:10:00")),        // exact re-crawl: dropped
        Doc(4, good1Variant, ts("2024-05-01 00:11:00")), // case/ws variant: dropped
        Doc(5, good2, ts("2024-05-01 00:12:00")))        // fresh: admitted
      q.processAllAvailable()
      val ids = spark.table("doc_ingest").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 5L))
    } finally q.stop()
  }

  test("streaming quality score equals the batch docQuality score") {
    val s = spark
    import s.implicits._
    val batch = Seq(Doc(1, good1, ts("2024-05-01 00:00:00")),
      Doc(2, short_, ts("2024-05-01 00:01:00")),
      Doc(5, good2, ts("2024-05-01 00:12:00"))).toDF()
    val expected = TextOps.docQuality(batch)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val input = MemoryStream[Doc](s)
    val q = DocStream.ingestFilter(input.toDF(), minQuality = 0.0)
      .writeStream.format("memory").queryName("doc_q").outputMode("append").start()
    try {
      input.addData(Doc(1, good1, ts("2024-05-01 00:00:00")),
        Doc(2, short_, ts("2024-05-01 00:01:00")),
        Doc(5, good2, ts("2024-05-01 00:12:00")))
      q.processAllAvailable()
      val got = spark.table("doc_q").select("doc_id", "quality_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got.foreach { case (id, score) =>
        assert(expected(id) === score, s"doc $id: stream $score vs batch ${expected(id)}")
      }
      assert(got.keySet == expected.keySet)
    } finally q.stop()
  }

  test("indexed ingest drops corpus re-crawls before watermark dedup sees them") {
    val s = spark
    import s.implicits._
    // corpus already holds good1 (as a case variant — the NORMALIZED
    // fingerprint must match); good2 is new
    val corpus = Seq((100L, good1.toUpperCase + "  ")).toDF("doc_id", "text")
    val fps = corpus.select(
      org.apache.spark.sql.functions.md5(
        graft.functions.TextFns.normalize($"text")).as("fp_md5"))
    val input = MemoryStream[Doc](s)
    val q = DocStream.ingestFilterIndexed(input.toDF(), fps, minQuality = 1.0)
      .writeStream.format("memory").queryName("doc_idx").outputMode("append").start()
    try {
      input.addData(
        Doc(1, good1, ts("2024-05-01 00:00:00")),  // corpus re-crawl: dropped
        Doc(2, good2, ts("2024-05-01 00:01:00")))  // fresh: admitted
      q.processAllAvailable()
      val ids = spark.table("doc_idx").select("doc_id").collect()
        .map(_.getLong(0)).toSeq
      assert(ids == Seq(2L), s"got $ids")
    } finally q.stop()
  }

  private val good3 = ("a third entirely reasonable document carrying well over " +
    "twenty distinct words so that every single quality rule passes without doubt")
  private val good4 = ("the fourth and final genuinely fresh document also has " +
    "plenty of ordinary words to sail through all four quality rules with ease")

  test("foreachBatch indexed ingest sees a mid-stream absorb: re-crawls of a just-absorbed batch are rejected") {
    val s = spark
    import s.implicits._
    val dir = TestSpark.tempDir("graft-ingest-live").toString
    val idx = new graft.incremental.IngestIndex(spark, dir)
    idx.build(Seq((100L, good1.toUpperCase + "  ")).toDF("doc_id", "text"))
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[Doc](s)
    val q = DocStream.ingestFilter(input.toDF(), minQuality = 1.0)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admitted.synchronized {
          admitted ++= DocStream.dropAdmitted(dir)(batch)
            .select("doc_id").collect().map(_.getLong(0))
        }
        ()
      }.start()
    try {
      input.addData(
        Doc(1, good1, ts("2024-05-01 00:00:00")),  // corpus re-crawl: dropped
        Doc(2, good2, ts("2024-05-01 00:01:00")))  // fresh: admitted
      q.processAllAvailable()
      assert(admitted.sorted.toSeq == Seq(2L), s"batch 1 admitted $admitted")
      // the batch pipeline publishes + absorbs good3 BETWEEN micro-batches
      idx.absorb(Seq((200L, good3)).toDF("doc_id", "text"))
      input.addData(
        Doc(3, good3, ts("2024-05-01 00:10:00")),  // re-crawl of the absorb: dropped
        Doc(4, good4, ts("2024-05-01 00:11:00")))  // fresh: admitted
      q.processAllAvailable()
      // a pinned static snapshot would have admitted doc 3 — the
      // per-batch re-open is what rejects it
      assert(admitted.sorted.toSeq == Seq(2L, 4L), s"after absorb admitted $admitted")
      // equality with the batch probe at the same commit point: the
      // second batch's admitted set is exactly its clean slice
      val batch2 = Seq((3L, good3), (4L, good4)).toDF("doc_id", "text")
      val batchDupes = graft.ops.TextOps.dedupExactIncremental(
          Seq((100L, good1), (200L, good3)).toDF("doc_id", "text"), batch2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchDupes == Set(3L), s"batch probe dupes $batchDupes")
    } finally q.stop()
  }

  test("StreamingIngestRun main: corpus-scale live-index cycle converges end-to-end") {
    // the operational form of the mid-stream-absorb contract above,
    // over the real sf0.001 corpus: build state -> stream batch 0
    // (fresh docs) -> absorb slice B between micro-batches -> batch 1
    // (re-crawls of B, new ids) rejected in full. The main THROWS on
    // divergence when embedded, so reaching the asserts is the check.
    val dir = TestSpark.tempDir("graft-sing-spec").toString
    StreamingIngestRun.main(Array("/root/testdata/sf0.001", dir))
    val admitted = spark.read.parquet(s"$dir/admitted")
    assert(admitted.count() > 0, "batch 0 must admit the fresh quality docs")
    // every admitted doc is an original batch-0 id — no re-crawl id
    // (offset past 10M) survived the live-index anti-join
    assert(admitted.filter(col("doc_id") >= 10000000L).count() == 0)
  }

  private def gen(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  test("streaming span probe flags corpus-copying docs, matches the batch delta probe") {
    val s = spark
    import s.implicits._
    val P = gen(61, 60)
    val corpus = Seq(
      (100L, P + gen(62, 40)),
      (101L, gen(63, 70)))
      .toDF("doc_id", "text")
    val index = TextOps.dupSpanIndex(corpus)
    val contaminated = Doc(10, P + gen(64, 60), ts("2024-05-01 00:00:00"))
    val clean = Doc(20, gen(65, 120), ts("2024-05-01 00:01:00"))
    // batch truth for the same delta
    val batchOut = TextOps.docDupSpansIncremental(
      corpus, Seq((10L, contaminated.text), (20L, clean.text)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap

    val input = MemoryStream[Doc](s)
    val q = DocStream.spanProbe(input.toDF(), index, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("span_probe").outputMode("append").start()
    try {
      input.addData(contaminated, clean)
      q.processAllAvailable()
      // append-mode aggregation: results emit once the watermark passes —
      // push a far-future clean doc to advance it, then drain again
      input.addData(Doc(99, gen(66, 120), ts("2024-05-01 12:00:00")))
      q.processAllAvailable()
      val got = spark.table("span_probe")
        .select("doc_id", "n_dup_spans", "dup_chars", "dup_frac").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      // the alert stream carries ONLY contaminated docs
      assert(got.keySet == Set(10L), s"got $got")
      assert(got(10L) == ((1L, 60L, 0.5)), s"doc10: ${got(10L)}")
      assert(got(10L) == batchOut(10L), "stream disagrees with the batch delta probe")
      assert(batchOut(20L) == ((0L, 0L, 0.0)), "clean doc is clean in batch too")
    } finally q.stop()
  }
}
