package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.IngestIndex
import graft.ops.TextOps
import TestSpark._

/** The persisted ingest-probe state ([[IngestIndex]]) must be invisible
  * to results: every probe against the parquet state is bit-identical to
  * the inline operator that rebuilds its corpus index per call, and
  * absorbing an admitted batch is equivalent to rebuilding from the
  * grown corpus. (The point of the state is COST — delta-proportional
  * per-batch work — never semantics.)
  */
class IngestIndexSpec extends AnyFunSuite {
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val corpus = docs.filter(col("doc_id") % 10 =!= 0)
  private lazy val delta = docs.filter(col("doc_id") % 10 === 0)

  private def freshDir(): String =
    TestSpark.tempDir("graft-ingest").toString

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("persisted probes are bit-identical to the inline incremental operators") {
    val idx = new IngestIndex(spark, freshDir())
    idx.build(corpus)
    checkProbesMatchInline(idx)
  }

  test("delta-bloom-pruned probes (pruneThreshold = 0) are bit-identical too") {
    // the 100 TB regime forced on: the index scan is prefiltered by the
    // delta's bitset — no false negatives, so results cannot move
    val idx = new IngestIndex(spark, freshDir(), pruneThreshold = 0L)
    idx.build(corpus)
    checkProbesMatchInline(idx)
  }

  private def checkProbesMatchInline(idx: IngestIndex): Unit = {
    assert(rows(idx.dedupExactProbe(delta)) ==
      rows(TextOps.dedupExactIncremental(corpus, delta)))
    assert(rows(idx.dedupExactProbeBloom(delta)) ==
      rows(TextOps.dedupExactIncrementalBloom(corpus, delta)))
    assert(rows(idx.dupSpansProbe(delta)) ==
      rows(TextOps.docDupSpansIncremental(corpus, delta)))
    assert(rows(idx.winnowProbe(delta)) ==
      rows(TextOps.nearDupWinnowIncremental(corpus, delta)))
    // and the bloom arm returns exactly the exact arm (no false
    // negatives; false positives die in the verify join)
    assert(rows(idx.dedupExactProbeBloom(delta)) == rows(idx.dedupExactProbe(delta)))
  }

  test("indexed exact-jaccard delta probe: bit-identical to the inline arm, through absorb + compaction; a postings-less state rejects") {
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir, withShingles = true)
    idx.build(corpus)
    val inline = rows(TextOps.nearDupJaccardIncremental(corpus, delta))
    assert(inline.nonEmpty, "fixture must produce pairs or the parity check is vacuous")
    assert(rows(idx.jaccardDeltaProbe(delta)) == inline)
    // the bloom-pruned regime (100 TB forced on) cannot move results
    val pruned = new IngestIndex(spark, freshDir(), pruneThreshold = 0L,
      withShingles = true)
    pruned.build(corpus)
    assert(rows(pruned.jaccardDeltaProbe(delta)) == inline)
    // absorb half the delta, probe the rest against the grown corpus —
    // segments (raw rows) must merge with the base exactly
    val d1 = delta.filter(col("doc_id") % 20 === 0)
    val d2 = delta.filter(col("doc_id") % 20 =!= 0)
    idx.absorb(d1)
    val grownInline = rows(TextOps.nearDupJaccardIncremental(corpus.unionByName(d1), d2))
    assert(rows(idx.jaccardDeltaProbe(d2)) == grownInline)
    // idempotent re-absorb: duplicate segment rows fold away in the probe
    idx.absorb(d1)
    assert(rows(idx.jaccardDeltaProbe(d2)) == grownInline)
    // compaction folds segments into the bucketed base without moving pairs
    idx.compact()
    assert(rows(idx.jaccardDeltaProbe(d2)) == grownInline)
    // a record-capable state WITHOUT postings (the pre-v3 shingles=2
    // layout) serves records but rejects the jaccard probe loudly
    val v2dir = freshDir()
    new IngestIndex(spark, v2dir, withShingles = true).build(corpus)
    val meta = java.nio.file.Paths.get(v2dir, "_graft_meta")
    val downgraded = new String(java.nio.file.Files.readAllBytes(meta), "UTF-8")
      .replace("shingles=3", "shingles=2")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(v2dir, "._graft_meta.crc"))
    java.nio.file.Files.write(meta, downgraded.getBytes("UTF-8"))
    val v2 = new IngestIndex(spark, v2dir, withShingles = true)
    assert(v2.signaturesFor(delta).count() > 0) // records still served
    val e = intercept[IllegalArgumentException](v2.jaccardDeltaProbe(delta))
    assert(e.getMessage.contains("shp"))
  }

  test("absorb(batch) is equivalent to a full rebuild on the grown corpus") {
    val half1 = corpus.filter(col("doc_id") % 3 =!= 0)
    val half2 = corpus.filter(col("doc_id") % 3 === 0)
    val absorbed = new IngestIndex(spark, freshDir())
    absorbed.build(half1)
    absorbed.absorb(half2)
    val rebuilt = new IngestIndex(spark, freshDir())
    rebuilt.build(corpus)
    assert(rows(absorbed.dedupExactProbe(delta)) == rows(rebuilt.dedupExactProbe(delta)))
    assert(rows(absorbed.dedupExactProbeBloom(delta)) ==
      rows(rebuilt.dedupExactProbeBloom(delta)))
    assert(rows(absorbed.dupSpansProbe(delta)) == rows(rebuilt.dupSpansProbe(delta)))
    assert(rows(absorbed.winnowProbe(delta)) == rows(rebuilt.winnowProbe(delta)))
  }

  test("absorb is idempotent: re-running the same batch changes nothing") {
    val half1 = corpus.filter(col("doc_id") % 3 =!= 0)
    val half2 = corpus.filter(col("doc_id") % 3 === 0)
    val once = new IngestIndex(spark, freshDir())
    once.build(half1)
    once.absorb(half2)
    val twice = new IngestIndex(spark, freshDir())
    twice.build(half1)
    twice.absorb(half2)
    twice.absorb(half2) // the crash-retry a caller issues after a lost ack
    assert(rows(twice.dedupExactProbe(delta)) == rows(once.dedupExactProbe(delta)))
    assert(rows(twice.dedupExactProbeBloom(delta)) == rows(once.dedupExactProbeBloom(delta)))
    assert(rows(twice.dupSpansProbe(delta)) == rows(once.dupSpansProbe(delta)))
    // the winnow half is where naive re-absorption corrupts: duplicate
    // (fp, doc_id) postings inflate shared_fps and saturate keys early
    assert(rows(twice.winnowProbe(delta)) == rows(once.winnowProbe(delta)))
  }

  test("opening a state dir with different build parameters fails loudly") {
    val dir = freshDir()
    new IngestIndex(spark, dir).build(corpus)
    val mismatched = new IngestIndex(spark, dir, maxDf = 7)
    val e = intercept[IllegalStateException](mismatched.winnowProbe(delta).collect())
    assert(e.getMessage.contains("different parameters"))
    assert(e.getMessage.contains("maxDf"))
    // matching parameters keep working
    assert(rows(new IngestIndex(spark, dir).dedupExactProbe(delta)).nonEmpty ||
      TextOps.dedupExactIncremental(corpus, delta).isEmpty)
  }

  test("a torn absorb (crash after journal, before swaps) replays to the absorbed state") {
    val half1 = corpus.filter(col("doc_id") % 3 =!= 0)
    val half2 = corpus.filter(col("doc_id") % 3 === 0)
    val dir = freshDir()
    val crashed = new IngestIndex(spark, dir)
    crashed.build(half1)
    crashed.prepareAbsorb(half2) // journal published, no swap applied — "crash"
    val reopened = new IngestIndex(spark, dir) // fresh instance = fresh process
    val full = new IngestIndex(spark, freshDir())
    full.build(half1); full.absorb(half2)
    assert(rows(reopened.dedupExactProbe(delta)) == rows(full.dedupExactProbe(delta)))
    assert(rows(reopened.dupSpansProbe(delta)) == rows(full.dupSpansProbe(delta)))
    assert(rows(reopened.winnowProbe(delta)) == rows(full.winnowProbe(delta)))
  }

  test("a crash mid-swap (one index applied, journal live) replays the remainder — never a mixed state") {
    val half1 = corpus.filter(col("doc_id") % 3 =!= 0)
    val half2 = corpus.filter(col("doc_id") % 3 === 0)
    val dir = freshDir()
    val crashed = new IngestIndex(spark, dir)
    crashed.build(half1)
    crashed.prepareAbsorb(half2)
    crashed.applySwap("fp/seg-1", "full") // fp segment committed, spans/winnow/bloom not — "crash"
    val reopened = new IngestIndex(spark, dir)
    val full = new IngestIndex(spark, freshDir())
    full.build(half1); full.absorb(half2)
    assert(rows(reopened.dedupExactProbe(delta)) == rows(full.dedupExactProbe(delta)))
    assert(rows(reopened.dedupExactProbeBloom(delta)) == rows(full.dedupExactProbeBloom(delta)))
    assert(rows(reopened.dupSpansProbe(delta)) == rows(full.dupSpansProbe(delta)))
    assert(rows(reopened.winnowProbe(delta)) == rows(full.winnowProbe(delta)))
  }

  test("an abandoned stage with no journal is cleared — the batch never happened") {
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir)
    idx.build(corpus)
    val stray = java.nio.file.Paths.get(dir, ".stage", "fp", "bucket=0")
    java.nio.file.Files.createDirectories(stray)
    java.nio.file.Files.write(stray.resolve("garbage"), Array[Byte](1, 2, 3))
    val reopened = new IngestIndex(spark, dir)
    assert(rows(reopened.dedupExactProbe(delta)) ==
      rows(TextOps.dedupExactIncremental(corpus, delta)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, ".stage")))
  }

  test("a rebuild crash BEFORE the journal leaves old meta + old indexes — new params rejected loudly") {
    // the advisor's window: a parameter-changing rebuild that dies
    // after staging (meta included) but before the journal publishes
    // must leave the state entirely pre-batch. Pre-fix, writeMeta hit
    // the LIVE dir before commit, so this crash left NEW meta beside
    // OLD indexes and the new-params open silently probed garbage.
    val dir = freshDir()
    new IngestIndex(spark, dir).build(corpus)
    val rebuilding = new IngestIndex(spark, dir, maxDf = 7)
    rebuilding.prepareBuild(corpus)
    // ≙ crash just before the journal publish: same fs state minus the journal
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "_graft_commit"))
    // old params still open and probe correctly (stage cleared on recover)
    val old = new IngestIndex(spark, dir)
    assert(rows(old.dedupExactProbe(delta)) ==
      rows(TextOps.dedupExactIncremental(corpus, delta)))
    // the new params are NOT silently accepted against the old indexes
    val e = intercept[IllegalStateException](
      new IngestIndex(spark, dir, maxDf = 7).winnowProbe(delta).collect())
    assert(e.getMessage.contains("different parameters"))
  }

  test("a rebuild crash AFTER the journal replays to the fully-new state, meta included") {
    val dir = freshDir()
    new IngestIndex(spark, dir).build(corpus)
    val rebuilding = new IngestIndex(spark, dir, maxDf = 7)
    rebuilding.prepareBuild(corpus) // journal published, swaps unapplied — "crash"
    // the new params now open cleanly and match a fresh maxDf=7 build
    val reopened = new IngestIndex(spark, dir, maxDf = 7)
    val fresh = new IngestIndex(spark, freshDir(), maxDf = 7)
    fresh.build(corpus)
    assert(rows(reopened.winnowProbe(delta)) == rows(fresh.winnowProbe(delta)))
    // and the OLD params are the ones rejected now
    val e = intercept[IllegalStateException](
      new IngestIndex(spark, dir).winnowProbe(delta).collect())
    assert(e.getMessage.contains("different parameters"))
  }

  test("a clobbered journal (concurrent writer) is detected before swaps apply") {
    val dir = freshDir()
    val a = new IngestIndex(spark, dir)
    a.build(corpus)
    a.prepareAbsorb(delta) // journal published with A's writer token
    a.ownJournalOrThrow()  // own journal: no complaint
    // a second writer clobbers the pending journal (delete+rename
    // publish is last-writer-wins) — rewrite the header with a foreign
    // token, entries unchanged
    val jp = java.nio.file.Paths.get(dir, "_graft_commit")
    val lines = java.nio.file.Files.readAllLines(jp).asScala.toSeq
    java.nio.file.Files.write(jp,
      ("#writer not-this-instance" +: lines.filterNot(_.startsWith("#"))).asJava)
    // the local ChecksumFileSystem keeps a .crc sidecar; drop it so the
    // out-of-band rewrite reads back (a real clobber goes through the FS)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._graft_commit.crc"))
    val e = intercept[IllegalStateException](a.ownJournalOrThrow())
    assert(e.getMessage.contains("concurrent writer detected"))
  }

  test("cached signature records reproduce inline jaccard pairs AND quality bit-for-bit") {
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir, withShingles = true)
    idx.build(corpus)
    // batch = resubmissions (cache hits) + the delta (cache misses):
    // the mixed frame must equal a fresh scan of the same docs — both
    // the shingle arrays (jaccard pairs) and the four quality stats
    // (rules scores + logreg trajectory read them)
    val batch = docs // full input = corpus resubmissions ∪ delta
    val recs = idx.signaturesFor(batch)
    assert(rows(TextOps.nearDupJaccardSh(recs)) == rows(TextOps.nearDupJaccard(batch)))
    assert(rows(TextOps.docQualityStats(recs)) == rows(TextOps.docQuality(batch)))
    assert(rows(TextOps.docQualityLogregStats(recs)) == rows(TextOps.docQualityLogreg(batch)))
    // and with segments live (absorb then re-probe), still identical
    idx.absorb(delta)
    assert(rows(TextOps.nearDupJaccardSh(idx.signaturesFor(batch))) ==
      rows(TextOps.nearDupJaccard(batch)))
  }

  test("absorbing only the state-missing slice equals absorbing the whole batch") {
    // every index row of a state-hit doc is deterministic per text, so
    // re-absorbing it adds nothing — the new-content-only absorb
    // (CorpusRun's probe-then-absorb) must leave probes identical
    val dir1 = freshDir(); val dir2 = freshDir()
    val all = new IngestIndex(spark, dir1, withShingles = true)
    val newOnly = new IngestIndex(spark, dir2, withShingles = true)
    all.build(corpus); newOnly.build(corpus)
    val resubmitted = corpus.filter(col("doc_id") % 3 === 0)
    val batch = resubmitted.unionByName(delta)
    all.absorb(batch)        // resubmissions + new content
    newOnly.absorb(delta)    // new content only
    val probeWith = docs.filter(col("doc_id") % 7 === 0)
    assert(rows(all.dedupExactProbe(probeWith)) == rows(newOnly.dedupExactProbe(probeWith)))
    assert(rows(all.dupSpansProbe(probeWith)) == rows(newOnly.dupSpansProbe(probeWith)))
    assert(rows(all.winnowProbe(probeWith)) == rows(newOnly.winnowProbe(probeWith)))
    assert(rows(TextOps.nearDupJaccardSh(all.signaturesFor(probeWith))) ==
      rows(TextOps.nearDupJaccardSh(newOnly.signaturesFor(probeWith))))
  }

  test("shingles is a superset-compatible capability: a probe-only caller opens a shingled state") {
    val dir = freshDir()
    new IngestIndex(spark, dir, withShingles = true).build(corpus)
    // read-only probes from a default (withShingles = false) instance
    val probeOnly = new IngestIndex(spark, dir)
    checkProbesMatchInline(probeOnly)
    // and its ABSORB maintains the record cache from the STATE's own
    // capability: a fresh shingled instance still serves bit-identical
    // signatures for the grown corpus afterwards
    probeOnly.absorb(delta)
    val grown = corpus.unionByName(delta)
    assert(rows(TextOps.nearDupJaccardSh(
        new IngestIndex(spark, dir, withShingles = true).signaturesFor(grown))) ==
      rows(TextOps.nearDupJaccard(grown)))
  }

  test("a caller requiring signature records rejects a record-less state with the rebuild instruction") {
    val dir = freshDir()
    new IngestIndex(spark, dir).build(corpus) // shingles = 0
    val e = intercept[IllegalStateException](
      new IngestIndex(spark, dir, withShingles = true).signaturesFor(delta).collect())
    assert(e.getMessage.contains("signature records"))
    assert(e.getMessage.contains("rebuild"))
  }

  test("recovering a foreign-layout journal surfaces the meta verdict, not a parquet read error") {
    // a shingle-less state's torn absorb, finished by a SHINGLED
    // instance: recovery must stamp only the indexes that exist and
    // then let validateMeta speak — pre-fix, stampRows("sh") died in
    // loadBase with a path-not-found AnalysisException
    val dir = freshDir()
    val old = new IngestIndex(spark, dir)
    old.build(corpus)
    old.prepareAbsorb(delta) // journal published, swaps unapplied — "crash"
    val e = intercept[IllegalStateException](
      new IngestIndex(spark, dir, withShingles = true).signaturesFor(delta).collect())
    assert(e.getMessage.contains("signature records"))
    // and the recovery itself completed: a matching instance probes the
    // fully-absorbed state
    assert(rows(new IngestIndex(spark, dir).dedupExactProbe(delta)) ==
      rows(TextOps.dedupExactIncremental(corpus.unionByName(delta), delta)))
  }

  test("docSetTag: set identity, order-invariant; any set or parameter change misses the memo") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir, withShingles = true)
    idx.build(corpus)
    val ids = TextOps.dedupExactIndex(docs)
      .select(col("dup_of").as("doc_id"), col("fp_md5"))
    val tag = idx.docSetTag(ids)
    // order/partitioning never move the tag; a one-row change always does
    assert(idx.docSetTag(ids.orderBy(col("fp_md5"))) == tag)
    assert(idx.docSetTag(ids.repartition(7)) == tag)
    assert(idx.docSetTag(ids.limit(3)) != tag)
    // the memo honors the FULL key: same doc set + different operator
    // params (the tag suffix CorpusRun appends) is a miss, not a replay
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    idx.putPairs(tag + "|" + TextOps.nearDupJaccardParamsTag(), pairs)
    assert(idx.getPairs(tag + "|" + TextOps.nearDupJaccardParamsTag()).isDefined)
    assert(idx.getPairs(tag + "|" + TextOps.nearDupJaccardParamsTag(maxDf = 50)).isEmpty)
  }

  test("compaction folds segments into the base without moving any probe result") {
    val half1 = corpus.filter(col("doc_id") % 3 =!= 0)
    val half2 = corpus.filter(col("doc_id") % 3 === 0)
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir)
    idx.build(half1)
    idx.absorb(half2)
    val before = Seq(
      rows(idx.dedupExactProbe(delta)), rows(idx.dedupExactProbeBloom(delta)),
      rows(idx.dupSpansProbe(delta)), rows(idx.winnowProbe(delta)))
    idx.compact()
    // segments retired, base consolidated
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir, "fp"))
      .iterator().asScala.exists(_.getFileName.toString.startsWith("seg-")))
    val after = Seq(
      rows(idx.dedupExactProbe(delta)), rows(idx.dedupExactProbeBloom(delta)),
      rows(idx.dupSpansProbe(delta)), rows(idx.winnowProbe(delta)))
    assert(after == before)
    // and a fresh build on the grown corpus agrees with the compacted state
    val rebuilt = new IngestIndex(spark, freshDir())
    rebuilt.build(corpus)
    assert(rows(idx.dedupExactProbe(delta)) == rows(rebuilt.dedupExactProbe(delta)))
    assert(rows(idx.winnowProbe(delta)) == rows(rebuilt.winnowProbe(delta)))
  }

  test("absorb auto-compacts past maxSegments") {
    val thirds = (1 to 2).map(i => corpus.filter(col("doc_id") % 3 === i))
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir, maxSegments = 2)
    idx.build(corpus.filter(col("doc_id") % 3 === 0))
    idx.absorb(thirds(0)) // 1 segment
    idx.absorb(thirds(1)) // 2 segments -> trigger
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir, "fp"))
      .iterator().asScala.exists(_.getFileName.toString.startsWith("seg-")))
    val rebuilt = new IngestIndex(spark, freshDir())
    rebuilt.build(corpus)
    assert(rows(idx.dedupExactProbe(delta)) == rows(rebuilt.dedupExactProbe(delta)))
    assert(rows(idx.dupSpansProbe(delta)) == rows(rebuilt.dupSpansProbe(delta)))
    assert(rows(idx.winnowProbe(delta)) == rows(rebuilt.winnowProbe(delta)))
  }

  test("winnow saturation markers survive absorb (a stop key never re-identifies)") {
    val s = spark
    import s.implicits._
    // 5 docs sharing one boilerplate sentence saturate its fingerprints
    // at maxDf=3; a genuine near-pair (20, 21) stays identifiable.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val ex = (1L to 5L).map(i => (i, s"$boiler unique tail $i")).toDF("doc_id", "text")
    val longOriginal = "completely original content about distributed shuffle sizing " +
      "strategies where every executor keeps its partitions balanced and the " +
      "optimizer prunes columns before the scan ever touches remote storage"
    val pairDoc = (21L, longOriginal)
    val dir = freshDir()
    val idx = new IngestIndex(spark, dir, maxDf = 3)
    idx.build(ex)
    idx.absorb(Seq(pairDoc).toDF("doc_id", "text"))
    val probe = Seq(
      (30L, s"$boiler unique tail thirty"),
      (31L, longOriginal))
      .toDF("doc_id", "text")
    val got = idx.winnowProbe(probe).collect()
    // 31 pairs with 21; 30 pairs with nobody (boilerplate fps saturated)
    assert(got.forall(_.getLong(0) == 31L))
    assert(got.exists(r => r.getLong(1) == 21L))
    // rebuild on the same grown corpus agrees
    val rebuilt = new IngestIndex(spark, freshDir(), maxDf = 3)
    rebuilt.build(ex.unionByName(Seq(pairDoc).toDF("doc_id", "text")))
    assert(rows(idx.winnowProbe(probe)) == rows(rebuilt.winnowProbe(probe)))
  }
}
