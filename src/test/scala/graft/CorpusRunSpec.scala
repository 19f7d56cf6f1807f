package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import TestSpark._

/** End-to-end corpus curation run: stage lineage, gate behavior, and
  * artifact integrity over the real sf0.001 corpus. */
class CorpusRunSpec extends AnyFunSuite {

  test("CorpusRun publishes a gated corpus with consistent lineage artifacts") {
    val out = TestSpark.tempDir("graft-corpus").toString
    CorpusRun.main(Array("/root/testdata/sf0.001", out))
    val report = spark.read.parquet(s"$out/report.parquet")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the funnel only narrows: every stage is a filter of the previous
    // (train_packed is the train-split subset of published)
    val order = Seq("input", "quality_gate", "exact_dedup",
      "neardup_keep_best", "decontaminated", "published", "train_packed")
    assert(report.keySet == order.toSet, s"stages: ${report.keySet}")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(report(b) <= report(a), s"$b (${report(b)}) > $a (${report(a)})")
    }
    assert(report("published") == report("decontaminated"),
      "publication must be exactly the gated survivor set")
    assert(report("published") > 0)
    val kept = spark.read.parquet(s"$out/kept")
    assert(kept.count() == report("published"))
    // every published doc carries a split and its quality score
    assert(kept.columns.toSet.intersect(Set("doc_id", "split", "quality_score"))
      == Set("doc_id", "split", "quality_score"))
    assert(kept.filter(col("split").isNull || col("quality_score").isNull).count() == 0)
    assert(kept.select("doc_id").distinct().count() == kept.count(), "doc_id unique")
    // survivors actually satisfy the gates they passed
    assert(kept.filter(col("quality_score") < 0.75).count() == 0)
    val evalIds = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
    val contaminated = TextOps.decontaminate(
      kept.select("doc_id").join(
        Tables.documents(spark, "/root/testdata/sf0.001"), Seq("doc_id")),
      Tables.documents(spark, "/root/testdata/sf0.001")
        .filter(col("doc_id") % 10 === 0))
      .filter(col("contaminated") === 1)
    assert(contaminated.count() == 0, "published docs must be decontaminated")
    // the recorded PSI is inside the gate that let it publish
    val psi = spark.read.parquet(s"$out/psi.parquet")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(psi.keySet == Set("val", "test"))
    psi.values.foreach(v => assert(v <= 0.1, s"psi $v escaped the gate"))
    // the packed training output covers EXACTLY the published train split
    val packed = spark.read.parquet(s"$out/train_packed")
    assert(packed.count() == report("train_packed"))
    val trainIds = kept.filter(col("split") === "train").select("doc_id")
    assert(packed.select("doc_id").except(trainIds).count() == 0)
    assert(trainIds.except(packed.select("doc_id")).count() == 0)
    // packing invariant: sequence ids are dense from 0 (prefix-sum bins)
    val maxSeq = packed.agg(max("seq_id")).head().getLong(0)
    assert(packed.select("seq_id").distinct().count() == maxSeq + 1)
  }

  test("CorpusForget erases docs from the store, its history, and every re-derived export") {
    val out = TestSpark.tempDir("graft-corpus-fgt").toString
    CorpusRun.main(Array("/root/testdata/sf0.001", out))
    val store = new graft.incremental.SnapshotTable(spark, s"$out/corpus", "doc_id")
    val doomed = store.read().select("doc_id").orderBy("doc_id")
      .limit(3).collect().map(_.getLong(0))
    val before = store.read().count()
    // a downstream replica holds its own copy of the doomed text: the
    // mirror must be erased by the same invocation, or the forget has a
    // replication hole
    val mirOut = TestSpark.tempDir("graft-corpus-fgt-mir").toString
    val mirror = new graft.incremental.SnapshotTable(spark, s"$mirOut/corpus", "doc_id")
    graft.incremental.SnapshotSync.sync(store, mirror)
    assert(mirror.read().filter(col("doc_id").isin(doomed.map(Long.box): _*)).count() == 3)

    CorpusForget.main(Array(out, doomed.mkString(","), mirOut))

    // gone from the MIRROR's store, history, and files too
    assert(mirror.read().filter(col("doc_id").isin(doomed.map(Long.box): _*)).count() == 0)
    assert(mirror.history.size == 1,
      s"mirror history must be forgotten too: ${mirror.history}")
    // the next sync hits the retention fence (source retired the cursor
    // version), full-refreshes, and feed-following resumes consistent
    graft.incremental.SnapshotSync.sync(store, mirror)
    assertSameRows(mirror.read(), store.read())

    // gone from the store — and from HISTORY: retire(1) dropped the
    // pre-delete versions, so time travel cannot resurrect the text
    assert(store.read().filter(col("doc_id").isin(doomed.map(Long.box): _*)).count() == 0)
    assert(store.read().count() == before - doomed.length)
    assert(store.history.size == 1, s"history must be forgotten too: ${store.history}")
    // the erasure is recorded in the same lineage artifact as curation
    val report = spark.read.parquet(s"$out/report.parquet")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report("forget_removed_docs") == doomed.length.toLong)
    assert(report("forget_files_reclaimed") >= 1,
      s"pre-delete files must be vacuumed: $report")
    assert(report("forget_bytes_reclaimed") > 0, s"bytes not reclaimed: $report")
    // exports re-derived WITHOUT the forgotten docs
    val kept = spark.read.parquet(s"$out/kept")
    assert(kept.filter(col("doc_id").isin(doomed.map(Long.box): _*)).count() == 0)
    assert(kept.count() == before - doomed.length)
    val packed = spark.read.parquet(s"$out/train_packed")
    assert(packed.filter(col("doc_id").isin(doomed.map(Long.box): _*)).count() == 0)
    // the packed bins re-packed densely over the survivors
    if (packed.count() > 0) {
      val maxSeq = packed.agg(max("seq_id")).head().getLong(0)
      assert(packed.select("seq_id").distinct().count() == maxSeq + 1)
    }
  }

  test("a failed PSI gate throws to the embedding caller and publishes nothing") {
    // the shared session must exist first: a run with none to reuse
    // owns its session and exits the JVM on the gate failure
    assert(!spark.sparkContext.isStopped)
    val out = TestSpark.tempDir("graft-corpus-psi").toString
    sys.props("SPARK_GRAFT_PSI_MAX") = "-1" // every split's PSI is >= 0
    val e =
      try intercept[GraftSession.RunFailed](CorpusRun.main(Array("/root/testdata/sf0.001", out)))
      finally sys.props.remove("SPARK_GRAFT_PSI_MAX")
    assert(e.code == 2)
    assert(e.getMessage.contains("PSI gate FAILED"))
    assert(new java.io.File(out).list().isEmpty,
      s"gate failure published: ${new java.io.File(out).list().mkString(", ")}")
    assert(!spark.sparkContext.isStopped)
  }

  test("gated excise + cluster splitter: extra stage, rewritten text, zero split leakage") {
    val out = TestSpark.tempDir("graft-corpus-ex").toString
    sys.props("SPARK_GRAFT_EXCISE") = "1"
    sys.props("SPARK_GRAFT_SPLIT") = "cluster"
    try CorpusRun.main(Array("/root/testdata/sf0.001", out))
    finally {
      sys.props.remove("SPARK_GRAFT_EXCISE"); sys.props.remove("SPARK_GRAFT_SPLIT")
    }
    val report = spark.read.parquet(s"$out/report.parquet")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the excised stage appears between the keeper and decontamination
    // and rewrites text, never drops docs
    assert(report.contains("excised"), s"stages: ${report.keySet}")
    assert(report("excised") == report("neardup_keep_best"),
      "excision rewrites text, it must not drop documents")
    assert(report("published") > 0)
    val kept = spark.read.parquet(s"$out/kept")
    // the published corpus carries excised (normalized-stitch) text for
    // docs that shared passages: no cross-doc duplicate windows remain
    // among survivors at the default width
    val survivors = kept.select(col("doc_id"), col("text"))
    val residue = TextOps.docDupSpans(survivors)
      .agg(sum(col("dup_chars"))).head.getLong(0)
    assert(residue == 0, s"excised corpus still shares $residue dup chars")
    // cluster splitter: leakage structurally zero among published docs
    val leaks = TextOps.leakageOf(survivors,
      kept.select(col("doc_id"), col("split")), 0.8)
    assert(leaks.count() == 0, "cluster-keyed splits must not leak")
  }

  test("accumulate mode: delta batches merge into a growing corpus store; exports cover the union") {
    val base = "/root/testdata/sf0.001"
    def tmp(p: String) = TestSpark.tempDir(p).toString
    val b1Dir = tmp("graft-acc-b1"); val b2Dir = tmp("graft-acc-b2")
    Tables.documents(spark, base).filter(col("doc_id") < 250)
      .write.parquet(s"$b1Dir/documents.parquet")
    // plant a CROSS-batch near-dup: batch 2 carries a near-copy (one
    // appended token — not fp-identical, so cross-batch exact admission
    // passes; jaccard stays ≥ 0.8) of a batch-1 doc. Each batch's own
    // funnel is blind to it (near-dup scope is batch-local); the
    // periodic sweep below must resolve it.
    Tables.documents(spark, base).filter(col("doc_id") >= 250)
      .unionByName(Tables.documents(spark, base).filter(col("doc_id") === 154)
        .select(lit(9999L).as("doc_id"),
          concat(col("text"), lit(" addendum")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + 9).as("n_chars")))
      .write.parquet(s"$b2Dir/documents.parquet")
    val out = tmp("graft-acc-out")
    sys.props("SPARK_GRAFT_INGEST_STATE") = tmp("graft-acc-state") + "/state"
    sys.props("SPARK_GRAFT_PSI_MAX") = "10" // half-corpus PSI is not under test
    sys.props("SPARK_GRAFT_PUBLISH") = "accumulate"
    try {
      CorpusRun.main(Array(b1Dir, out)) // cold: store absent -> create + state build
      val store = new graft.incremental.SnapshotTable(spark, s"$out/corpus", "doc_id")
      val pub1 = store.read().select("doc_id").collect().map(_.getLong(0)).toSet
      assert(pub1.nonEmpty && pub1.forall(_ < 250))

      // threshold 1 stands in for the production 64: batch 2's merge
      // leaves >1 live files, so the run must self-compact afterwards
      sys.props("SPARK_GRAFT_COMPACT_FILES") = "1"
      CorpusRun.main(Array(b2Dir, out)) // warm delta batch -> MERGE, not replace
      assert(store.history.map(_._3).contains("merge"),
        s"accumulate must merge, got ${store.history.map(_._3)}")
      // auto-compaction fired and bounded the live file count — every
      // content assertion below reads the post-compaction store, so
      // "contents identical" is what the rest of this test proves
      assert(store.history.map(_._3).contains("optimize"),
        s"accumulate past the file threshold must self-compact, got ${store.history.map(_._3)}")
      assert(store.history.last._4 <= 2,
        s"compaction left ${store.history.last._4} live files")
      val pub12 = store.read().select("doc_id").collect().map(_.getLong(0)).toSet
      // the store is the UNION: batch 1 survives, batch 2's survivors add on
      assert(pub1.subsetOf(pub12), s"batch-1 docs lost: ${(pub1 -- pub12).take(5)}")
      val added = pub12 -- pub1
      assert(added.nonEmpty && added.forall(_ >= 250))
      // exports re-derive from the FULL accumulated corpus
      val kept = spark.read.parquet(s"$out/kept")
      assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == pub12)
      val packed = spark.read.parquet(s"$out/train_packed")
      val trainIds = kept.filter(col("split") === "train").select("doc_id")
      assert(packed.select("doc_id").except(trainIds).count() == 0)
      assert(trainIds.except(packed.select("doc_id")).count() == 0)
      // and the erasure path still holds on the accumulated store
      // (keep 154 — it is the planted near-dup pair's keeper below)
      val forgetId = (pub1 - 154L).head
      CorpusForget.main(Array(out, forgetId.toString))
      assert(store.read().filter(col("doc_id") === forgetId).count() == 0)
      assert(spark.read.parquet(s"$out/kept")
        .filter(col("doc_id") === forgetId).count() == 0)

      // PERIODIC NEAR-DUP SWEEP (the batch half of the lambda split):
      // the planted cross-batch pair {154, 9999} survived both batch
      // funnels — precondition, then the sweep must demote the
      // non-keeper (154 wins the quality-then-min-id tie-break) and
      // scrub it from the re-derived exports.
      assert(pub1.contains(154L) && store.read()
        .filter(col("doc_id").isin(154L, 9999L)).count() == 2,
        "planted cross-batch near-dup pair did not survive the batch funnels")
      CorpusNearDupSweep.main(Array(out))
      assert(store.read().filter(col("doc_id") === 9999L).count() == 0,
        "sweep failed to demote the planted cross-batch near-dup")
      assert(store.read().filter(col("doc_id") === 154L).count() == 1,
        "sweep demoted the pair's keeper")
      assert(store.currentTag.exists(_.startsWith("neardup-sweep:")))
      assert(spark.read.parquet(s"$out/kept")
        .filter(col("doc_id") === 9999L).count() == 0)
      assert(spark.read.parquet(s"$out/train_packed")
        .filter(col("doc_id") === 9999L).count() == 0)
      // fixpoint: a second sweep demotes nothing and commits nothing
      val vAfter = store.currentVersion
      CorpusNearDupSweep.main(Array(out))
      assert(store.currentVersion == vAfter, "sweep at fixpoint must not commit")
    } finally {
      sys.props.remove("SPARK_GRAFT_INGEST_STATE")
      sys.props.remove("SPARK_GRAFT_PSI_MAX")
      sys.props.remove("SPARK_GRAFT_PUBLISH")
      sys.props.remove("SPARK_GRAFT_COMPACT_FILES")
    }
  }

  test("sweep CAS: a commit landing mid-analysis forces a re-derive — no fresh row deleted off a stale set") {
    val s = spark
    import s.implicits._
    val out = TestSpark.tempDir("graft-sweep-cas").toString
    val store = new graft.incremental.SnapshotTable(spark, s"$out/corpus", "doc_id")
    val longText = (1 to 60).map(i => s"tok$i").mkString(" ")
    def docs(rows: (Long, String, Double)*) =
      rows.map { case (id, t, q) => (id, t, q, "train", "en", "web") }
        .toDF("doc_id", "text", "quality_score", "split", "lang", "source")
    // 2 is a near-copy of 1 at lower quality — the analysis pass will
    // derive {2} as the demotion set
    store.create(docs(
      (1L, longText, 0.9),
      (2L, longText + " trailing addendum", 0.5),
      (3L, "wholly different content about telescopes rivers and deep sea trenches", 0.7)))
    // mid-analysis, a writer that does NOT take the maintenance lock
    // rewrites doc 2 with unique content — the derived demotion set is
    // now stale; an un-CAS'd delete would remove the fresh row
    CorpusNearDupSweep.onAfterAnalyze = () => {
      store.merge(docs((2L, "entirely novel text on glaciers meteor showers and tidal pools", 0.5)))
      CorpusNearDupSweep.onAfterAnalyze = () => ()
    }
    try {
      val (_, demoted) = CorpusNearDupSweep.sweep(spark, out)
      // the retry re-derived from the fresh snapshot, where 2 is no
      // longer anyone's near-dup — nothing to demote
      assert(demoted == 0, s"re-derive still demoted $demoted docs — stale set applied?")
    } finally CorpusNearDupSweep.onAfterAnalyze = () => ()
    assert(store.read().filter(col("doc_id") === 2L).count() == 1,
      "a row updated mid-sweep was deleted off the stale demotion set")
    assert(store.read().count() == 3)
    // sanity: absent the interleaving, the same store demotes the copy
    store.merge(docs((2L, longText + " trailing addendum", 0.5)))
    val (_, demoted2) = CorpusNearDupSweep.sweep(spark, out)
    assert(demoted2 == 1 && store.read().filter(col("doc_id") === 2L).isEmpty)
  }

  test("indexed admission over id-ordered batches equals the batch funnel; re-runs are no-ops") {
    val base = "/root/testdata/sf0.001"
    def tmp(p: String) = TestSpark.tempDir(p).toString
    def keptIds(out: String): Set[Long] =
      spark.read.parquet(s"$out/kept").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    // batch 1 = the id-ordered prefix; batch 2 = the full input
    // (re-submissions of batch 1 plus the new tail)
    val b1Dir = tmp("graft-b1-sf")
    Tables.documents(spark, base).filter(col("doc_id") < 250)
      .write.parquet(s"$b1Dir/documents.parquet")
    val (outFull, outB1, outB2, outRe) =
      (tmp("graft-cr-full"), tmp("graft-cr-b1"), tmp("graft-cr-b2"), tmp("graft-cr-re"))
    CorpusRun.main(Array(base, outFull)) // the ungated batch truth
    sys.props("SPARK_GRAFT_INGEST_STATE") = tmp("graft-cr-state") + "/state"
    sys.props("SPARK_GRAFT_PSI_MAX") = "10" // half-corpus PSI is not under test
    try {
      CorpusRun.main(Array(b1Dir, outB1)) // cold start: probes nothing, builds state
      CorpusRun.main(Array(base, outB2))  // warm: probes batch-1 admissions
      CorpusRun.main(Array(base, outRe))  // identical re-submission
    } finally {
      sys.props.remove("SPARK_GRAFT_INGEST_STATE")
      sys.props.remove("SPARK_GRAFT_PSI_MAX")
    }
    // the warm gated run over the full input publishes EXACTLY the batch
    // funnel's corpus: earlier-admitted fingerprints keep their original
    // (lowest-id) holders, re-submitted docs keep themselves
    assert(keptIds(outB2) == keptIds(outFull),
      s"gated != batch: only-gated=${(keptIds(outB2) -- keptIds(outFull)).take(5)} " +
        s"only-batch=${(keptIds(outFull) -- keptIds(outB2)).take(5)}")
    // and re-running the same batch against the absorbed state is a no-op
    assert(keptIds(outRe) == keptIds(outB2))
  }
}
