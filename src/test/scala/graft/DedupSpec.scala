package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFns
import graft.ops.TextOps
import TestSpark._

/** Dedup-operator semantics on the sf0.001 corpus (which contains planted
  * near-duplicate documents) plus hand-built exact-dup fixtures.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("exact dedup groups identical canonical text") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),    // same canonical form as 1
      (3L, "different text entirely"),
      (4L, "HELLO\tWORLD "))  // same canonical form as 1
      .toDF("doc_id", "text")
    val out = TextOps.dedupExact(fixture).collect()
    assert(out.length == 2)
    val groups = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(1L) == 3L) // keeper 1, three members
    assert(groups(3L) == 1L)
  }

  test("delta exact dedup: re-crawl and case/ws variant hit the index, fresh text doesn't") {
    val s = spark
    import s.implicits._
    val existing = Seq(
      (1L, "Hello   World"),
      (3L, "different text entirely"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "hello world"),        // normalized re-crawl of 1
      (20L, "HELLO\tWORLD "),      // case/ws variant of 1
      (30L, "genuinely new text")) // fresh
      .toDF("doc_id", "text")
    val out = TextOps.dedupExactIncremental(existing, incoming).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(10L -> 1L, 20L -> 1L), s"got $out")
    // the bloom-prefiltered arm composes to the identical result in
    // BOTH cost regimes: gated-off (tiny corpus falls through to the
    // plain probe) and forced-on (minCorpusRows = 0 — the 100 TB shape)
    val bloom = TextOps.dedupExactIncrementalBloom(existing, incoming).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bloom == out, s"bloom arm diverged: $bloom vs $out")
    val bloomForced = TextOps.dedupExactIncrementalBloom(existing, incoming,
      minCorpusRows = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bloomForced == out, s"forced bloom arm diverged: $bloomForced vs $out")
  }

  test("delta winnow probe: a shared long run pairs with its corpus holder, fresh text doesn't") {
    val s = spark
    import s.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val existing = Seq(
      (1L, run + " corpus tail words here"),
      (3L, "an unrelated existing document with plenty of its own words"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "new prefix words " + run),  // shares the 20-token run with 1
      (30L, "completely novel content nothing shared at all"))
      .toDF("doc_id", "text")
    val out = TextOps.nearDupWinnowIncremental(existing, incoming).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((10L, 1L)), s"got $out")
    assert(out((10L, 1L)) >= 2L, "a 20-token shared run carries several winnow fps")
  }

  test("doc novelty: first-seen doc gets the credit, copies score zero, shingle mass conserved") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // 4 shingles, all novel
      (2L, "alpha beta gamma delta epsilon zeta"),       // exact copy of 1 -> novelty 0
      (3L, "totally different words appear right here"), // 4 shingles, all novel
      (4L, "alpha beta gamma delta unique tail words"))  // 2 of 5 shingles seen in doc 1
      .toDF("doc_id", "text")
    val out = TextOps.docNovelty(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4, 4L, 1.0)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((4, 0L, 0.0)), s"copy scores zero: ${out(2L)}")
    assert(out(3L) == ((4, 4L, 1.0)), s"doc 3: ${out(3L)}")
    assert(out(4L) == ((5, 3L, 0.6)), s"doc 4 half-borrowed: ${out(4L)}")
    // conservation: every distinct shingle in the corpus is credited to
    // exactly one document (its first-seen owner)
    assert(out.values.map(_._2).sum == 11L)
  }

  test("minhash LSH recovers the exact-jaccard near-dup pairs") {
    val exact = TextOps.nearDupJaccard(docs, minJaccard = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = TextOps.nearDupMinhash(docs, minEstJaccard = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val recall = (exact & mh).size.toDouble / exact.size
    assert(recall >= 0.95, s"minhash recall $recall over ${exact.size} true pairs")
    // est-jaccard-filtered candidates shouldn't drown the true pairs
    assert(mh.size <= exact.size * 3, s"minhash precision: ${mh.size} pairs vs ${exact.size} true")
  }

  test("simhash banding finds the planted near-dups within hamming radius") {
    val exact = TextOps.nearDupJaccard(docs, minJaccard = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = TextOps.nearDupSimhash(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & sh).size.toDouble / exact.size
    assert(recall >= 0.9, s"simhash recall $recall over ${exact.size} true pairs")
  }

  test("minhash estimate approximates true jaccard on candidate pairs") {
    val joined = TextOps.nearDupMinhash(docs, minEstJaccard = 0.8).as("m")
      .join(TextOps.nearDupJaccard(docs, minJaccard = 0.5).as("j"),
        Seq("doc_a", "doc_b"))
      .select(abs(col("est_jaccard") - col("jaccard")).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(joined <= 0.25, s"max |est - true| = $joined")
  }

  test("near-dup keep-list drops exactly the larger ids of qualifying pairs") {
    val pairs = TextOps.nearDupJaccard(docs).select("doc_b").distinct().count()
    val kept = TextOps.nearDupKeep(docs).count()
    assert(kept == docs.count() - pairs)
  }

  test("cluster dedup is transitive across a similarity chain") {
    val s = spark
    import s.implicits._
    // Sliding windows: consecutive docs overlap 24/30 words (jaccard
    // ~0.65), two apart only 18 (~0.4) — so 10~11 and 11~12 are edges
    // but 10~12 is NOT: only transitive closure groups all three.
    val words = (0 until 42).map(i => s"tok$i")
    def doc(i: Int) = words.slice(6 * i, 6 * i + 30).mkString(" ")
    val fixture = Seq(
      (10L, doc(0)), (11L, doc(1)), (12L, doc(2)),
      (20L, (100 until 140).map(i => s"word$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.nearDupClusters(fixture, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val clustered = out.map(_._1).toSet
    assert(clustered == Set(10L, 11L, 12L), s"clustered=$clustered")
    assert(out.forall(_._2 == 10L), "min-label must win for the whole component")
    assert(out.forall(_._3 == 3L))
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    val s = spark
    import s.implicits._
    // k=3, w=4: guarantee threshold is a 6-token shared run
    val shared = "alpha beta gamma delta epsilon zeta"
    val fixture = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight $shared nine ten"),
      (3L, "totally disjoint words only here making up a document"))
      .toDF("doc_id", "text")
    val fps = TextOps.docWinnow(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "disjoint docs should not collide")
    // determinism
    val again = TextOps.docWinnow(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == fps.toSet)
  }

  test("incremental near-dup equals the batch recompute filtered to the delta") {
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = TextOps.nearDupJaccardIncremental(existing, incoming)
      .select("doc_a", "doc_b", "shared", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val incIds = incoming.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = TextOps.nearDupJaccard(docs)
      .select("doc_a", "doc_b", "shared", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(p => incIds(p._1) || incIds(p._2)).toSet
    assert(inc == full, s"inc-only=${inc -- full}, full-only=${full -- inc}")
    assert(inc.nonEmpty, "fixture split should contain cross-batch near-dups")
  }

  test("winnow blocking recovers the high-jaccard near-dup pairs") {
    val exact = TextOps.nearDupJaccard(docs, minJaccard = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wn = TextOps.nearDupWinnow(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & wn).size.toDouble / exact.size
    assert(recall >= 0.95, s"winnow recall $recall over ${exact.size} true pairs")
  }

  test("compiled winnowing expression matches the HOF formulation on the corpus") {
    val fast = TextOps.docWinnow(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val slow = TextOps.docWinnowHof(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == slow)
    assert(fast.nonEmpty)
  }

  test("nearDupClusters on a clean corpus returns an empty frame") {
    val s = spark
    import s.implicits._
    // no qualifying pairs: every doc disjoint vocabulary
    val fixture = (0L until 4L).map(i =>
      (i, (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.nearDupClusters(fixture, minJaccard = 0.5)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id", "cluster_size"))
  }

  test("pagerank: cluster centers outrank leaves; ranks are deterministic") {
    val s = spark
    import s.implicits._
    // path: consecutive windows overlap (~0.65 jaccard), two apart don't
    // (~0.43) — so 10 is the center of 11-10-12; plus an isolated pair
    val words = (0 until 60).map(i => s"tok$i")
    def win(i: Int) = words.slice(6 * i, 6 * i + 30).mkString(" ")
    val fixture = Seq(
      (10L, win(1)), (11L, win(0)), (12L, win(2)), // 10 is the center
      (20L, (200 until 230).map(i => s"w$i").mkString(" ")),
      (21L, (200 until 229).map(i => s"w$i").mkString(" ") + " w999"))
      .toDF("doc_id", "text")
    val pr = TextOps.nearDupPageRank(fixture, minJaccard = 0.5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(10L, 11L, 12L, 20L, 21L))
    assert(pr(10L) > pr(11L) && pr(10L) > pr(12L),
      s"center must outrank leaves: $pr")
    assert(pr(11L) == pr(12L), "symmetric leaves must tie")
    assert(pr(20L) == pr(21L), "an isolated pair splits rank evenly")
    assert(TextOps.nearDupPageRank(fixture, minJaccard = 0.5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == pr)
  }

  test("hashed embeddings: identical texts map identically, weights conserve tf") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "alpha beta alpha"), (2L, "alpha beta alpha"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val out = TextOps.docEmbedHash(fixture).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1).map { case (d, xs) =>
      d -> xs.map(x => (x._2, x._3)).toSet }
    assert(byDoc(1L) == byDoc(2L), "same text must embed identically")
    // |weights| of doc 1 sum to at most its token count (equality unless
    // two of its tokens collide on a dim with opposite signs)
    assert(byDoc(1L).toSeq.map(w => math.abs(w._2)).sum <= 3)
    assert(byDoc(3L).size == 1 && math.abs(byDoc(3L).head._2) == 1)
    assert(out.forall(r => r._2 >= 0 && r._2 < 64 && r._3 != 0))
  }

  test("curation flags agree with the constituent operators, keep is their conjunction") {
    val out = TextOps.corpusCuration(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      .toMap
    // internal consistency: keep == product of flags, rows = non-eval docs
    assert(out.values.forall { case (q, c, n, cl, k) => k == q * c * n * cl })
    assert(out.keySet == docs.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // cross-check each flag against the standalone operator
    val qualityOk = TextOps.docQuality(docs.filter(col("doc_id") % 10 =!= 0))
      .filter(col("quality_score") >= 0.75)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.filter(_._2._1 == 1).keySet == qualityOk)
    val losers = TextOps.nearDupJaccard(docs)
      .select("doc_b").distinct().collect().map(_.getLong(0)).toSet
    assert(out.filter(_._2._3 == 0).keySet == losers.intersect(out.keySet))
    val contaminated = TextOps.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
      .filter(col("contaminated") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.filter(_._2._4 == 0).keySet == contaminated)
    assert(out.values.exists(_._5 == 1) && out.values.exists(_._5 == 0))
  }

  test("per-group hash sample equals the window formulation and caps at k") {
    val viaAgg = TextOps.samplePerGroup(docs, nPer = 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    val viaWindow = docs
      .select(col("lang"), md5(col("doc_id").cast("string")).as("hk"), col("doc_id"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= 7)
      .select("lang", "doc_id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaWindow)
    val perLang = viaAgg.groupBy(_._1).map { case (l, xs) => l -> xs.size }
    assert(perLang.values.forall(_ <= 7) && perLang.values.exists(_ == 7))
    // determinism across runs
    assert(TextOps.samplePerGroup(docs, nPer = 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet == viaAgg)
  }

  test("sequence packing is a correct global prefix sum, invariant to bucket count") {
    val s = spark
    import s.implicits._
    // budget 10: docs of 4/7/3/12 tokens -> starts 0,4,11,14
    val fixture = Seq(
      (1L, "a b c d"), (2L, "e f g h i j k"), (3L, "l m n"),
      (4L, (1 to 12).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.packSequences(fixture, budget = 10, nBuckets = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 4L, 0L, 0L, 0L),   // tokens 0..3, fits seq 0
      (2L, 7L, 0L, 4L, 1L),   // tokens 4..10, straddles into seq 1
      (3L, 3L, 1L, 1L, 0L),   // tokens 11..13
      (4L, 12L, 1L, 4L, 1L)), // tokens 14..25, straddles into seq 2
      s"got ${out.toSeq}")
    val alt = TextOps.packSequences(fixture, budget = 10, nBuckets = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(alt.toSeq == out.toSeq, "packing must not depend on range bucketing")
  }

  test("chunking covers every token with the configured stride and overlap") {
    val s = spark
    import s.implicits._
    val words = (1 to 50).map(i => s"w$i")
    val fixture = Seq((1L, words.mkString(" ")), (2L, "only three tokens"))
      .toDF("doc_id", "text")
    val out = TextOps.docChunks(fixture, chunkLen = 32, overlap = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 50 tokens, stride 24: chunks at 1 (len 32), 25 (len 26), 49 (len 2)
    assert(d1.map(c => (c._3, c._4)).toSeq == Seq((1, 32), (25, 26), (49, 2)))
    // overlap: chunk 2 starts 24 in, so tokens 25..32 are shared with chunk 1
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 3)
    // chunk md5 is content-derived: identical token runs hash identically
    val again = TextOps.docChunks(fixture, chunkLen = 32, overlap = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4))).toSet
    assert(again == out.map(r => (r._1, r._2, r._5)).toSet)
  }

  test("decontamination counts distinct eval-shingle collisions per corpus doc") {
    val s = spark
    import s.implicits._
    val evalSet = Seq((100L, "q w e r t y u")).toDF("doc_id", "text") // 3 5-grams
    val corpus = Seq(
      (1L, "z q w e r t y"), // contains the runs "q w e r t" and "w e r t y"
      (2L, "totally different words here avoiding any overlap whatsoever"),
      (3L, "too few"))       // < 5 tokens: zero shingles
      .toDF("doc_id", "text")
    val out = TextOps.decontaminate(corpus, evalSet).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    assert(out(1L) == ((3, 2L, 1)), s"got ${out(1L)}")
    assert(out(2L)._2 == 0L && out(2L)._3 == 0)
    assert(out(3L) == ((0, 0L, 0)), s"got ${out(3L)}")
  }

  test("repetition signals match hand-computed gram fractions") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "a b a b a b"), // "a b"x3 of 11 chars; both 3-grams duplicated
      (2L, "x y"),         // single 2-gram covers the whole doc; no 3-grams
      (3L, "solo"))        // no grams at all
      .toDF("doc_id", "text")
    val out = TextOps.docRepetition(fixture).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out(1L) == ((6, 0.666667, 0.818182, 1.818182)), s"got ${out(1L)}")
    assert(out(2L) == ((2, 0.0, 1.0, 0.0)), s"got ${out(2L)}")
    assert(out(3L) == ((1, 0.0, 0.0, 0.0)), s"got ${out(3L)}")
  }

  test("driver union-find clusters equal the distributed label-propagation clusters") {
    val onDriver = TextOps.nearDupClusters(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val distributed = TextOps.nearDupClusters(docs, minJaccard = 0.5, driverEdgeLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(onDriver == distributed,
      s"driver-only=${onDriver -- distributed}, dist-only=${distributed -- onDriver}")
    assert(onDriver.nonEmpty, "fixture corpus should contain near-dup clusters")
  }

  test("stratified sample rates land near the configured percentages") {
    val out = TextOps.sampleStratified(docs).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = out.getOrElse("en", 0L).toDouble / totals("en")
    assert(math.abs(enRate - 0.5) < 0.15, s"en sampled at $enRate, want ~0.5")
    // deterministic: same call, same rows
    val a = TextOps.sampleStratified(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.sampleStratified(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("corpus mixture: weights normalize to 1 and follow sqrt(token) ratios") {
    val out = TextOps.corpusMixture(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-5)
    // temperature α=1/2 compresses: weight ratio = sqrt of token ratio
    for (Seq((_, (ta, wa)), (_, (tb, wb))) <- out.toSeq.combinations(2)) {
      val expect = math.sqrt(ta.toDouble / tb)
      assert(math.abs(wa / wb - expect) < 1e-4,
        s"weight ratio ${wa / wb} vs sqrt token ratio $expect")
    }
  }

  test("weighted sampling keeps at rate = quality score, deterministically") {
    val kept = TextOps.sampleWeighted(docs)
    // every kept row satisfies its own acceptance predicate
    assert(kept.filter(col("u") >= col("quality_score")).isEmpty)
    // zero-score docs can never be kept
    assert(kept.filter(col("quality_score") === 0.0).isEmpty)
    // deterministic: two plans, same rows
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.sampleWeighted(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("bm25 ranks the doc saturated with a rare query term first") {
    val s = spark
    import s.implicits._
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val fixture = Seq(
      (1L, s"join join join join $filler"),   // rare term, high tf
      (2L, s"join $filler"),                  // rare term, tf 1
      (3L, s"stream $filler stream"),         // common term (in 3 docs)
      (4L, s"stream $filler"),
      (5L, s"stream also here $filler"),
      (6L, s"nothing relevant $filler"))
      .toDF("doc_id", "text")
    val out = TextOps.searchBm25(fixture).collect()
    assert(out.map(_.getLong(0)).take(2).toSeq == Seq(1L, 2L),
      "docs matching the rarer term outrank the commoner term")
    assert(!out.map(_.getLong(0)).contains(6L))
    // saturation: tf 4 scores higher than tf 1 but less than 4x
    val byDoc = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byDoc(1L) > byDoc(2L) && byDoc(1L) < 4 * byDoc(2L))
  }

  test("dup passages surface a shared 32-token run between mostly-different docs") {
    val s = spark
    import s.implicits._
    val passage = (1 to 32).map(i => s"shared$i").mkString(" ")
    val fixture = Seq(
      (1L, s"$passage " + (1 to 40).map(i => s"apple$i").mkString(" ")),
      (2L, s"$passage " + (1 to 40).map(i => s"banana$i").mkString(" ")),
      (3L, (1 to 80).map(i => s"unique$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.dupPassages(fixture).collect()
    assert(out.nonEmpty, "the planted shared passage must be detected")
    assert(out.forall(r => r.getLong(1) == 2L && r.getLong(2) == 1L))
    // doc 3 shares nothing: no passage hash it contributes appears
    val lone = TextOps.dupPassages(fixture.filter(col("doc_id") === 3L))
    assert(lone.isEmpty)
  }

  test("cross-entropy: rare-token soup scores higher than typical text") {
    val s = spark
    import s.implicits._
    val common = (1 to 10).map(_ => "the cat sat on the mat").mkString(" ")
    val fixture = Seq(
      (1L, common), (2L, common), (3L, common),
      (4L, "zyx wvu tsr qpo nml kji hgf"))  // tokens seen nowhere else
      .toDF("doc_id", "text")
    val out = TextOps.docCrossEntropy(fixture).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(1L) + 1.0,
      s"rare-token doc ${out(4L)} should far exceed typical ${out(1L)}")
    assert(out(1L) == out(2L), "identical docs score identically")
    // mean nll is bounded by the most extreme per-token nll
    assert(out.values.forall(v => v > 0))
  }

  test("split assignment is growth-stable and roughly proportioned") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 400L).map(i => (i, "en", s"doc $i body"))
      .toDF("doc_id", "lang", "text")
    val full = TextOps.splitAssign(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // the defining property over rand(): growing the corpus NEVER moves
    // an existing document to a different split
    val half = TextOps.splitAssign(corpus.filter(col("doc_id") < 200)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(half.forall { case (id, sp) => full(id) == sp },
      "existing docs must keep their split when the corpus grows")
    val n = full.size.toDouble
    val frac = full.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"train frac: $frac")
    assert(frac("val") > 0.04 && frac("val") < 0.16, s"val frac: $frac")
    assert(frac("test") > 0.04 && frac("test") < 0.16, s"test frac: $frac")
  }

  test("bigram entropy ranks scrambled transitions above common ones; unigram can't") {
    val s = spark
    import s.implicits._
    // doc 100 has the SAME unigram profile as the common docs but
    // transitions the corpus has never seen — the sequence-typicality
    // signal the unigram score is blind to
    val docs = (Seq.tabulate(5)(i => (i.toLong, "the cat sat on the mat")) :+
      (100L, "mat the on sat cat the")).toDF("doc_id", "text")
    val bi = TextOps.docPerplexityBigram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ent = bi.map(t => t._1 -> t._3).toMap
    assert(ent(100L) > ent(0L) + 0.5,
      s"scrambled ${ent(100L)} must far exceed typical ${ent(0L)}")
    assert(ent(0L) == ent(4L), "identical docs score identically")
    assert(bi.forall(_._2 == 5L), "n_bigrams = tokens - 1")
    val uni = TextOps.docCrossEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(uni(100L) - uni(0L)) < 1e-9,
      "unigram score is identical on the scramble — the bigram signal is new information")
  }

  /** Corpus for the trigram specs: docs 0-2 walk a→b→c→a, docs 3-5 walk
    * b→a→c→b, so BOTH `a c` and `c a` are corpus-known bigrams. Doc 100
    * ("a c a c …") therefore uses only familiar transitions, but every
    * one of its trigrams (aca, cac) is novel — a bigram-preserving
    * scramble, invisible at order 2 and glaring at order 3. */
  private def trigramFixture = {
    val s = spark
    import s.implicits._
    ((0 to 2).map(i => (i.toLong, "a b c a b c a b c a b c")) ++
      (3 to 5).map(i => (i.toLong, "b a c b a c b a c b a c")) :+
      (100L, "a c a c a c a c a c a c")).toDF("doc_id", "text")
  }

  test("trigram entropy separates bigram-preserving scrambles the bigram model cannot") {
    val docs = trigramFixture
    val tri = TextOps.docPerplexityTrigram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val triEnt = tri.map(t => t._1 -> t._3).toMap
    assert(triEnt(100L) > triEnt(0L) + 0.1,
      s"novel-trigram doc ${triEnt(100L)} must exceed typical ${triEnt(0L)}")
    assert(triEnt(0L) == triEnt(2L), "identical docs score identically")
    assert(tri.forall(_._2 == 10L), "n_trigrams = tokens - 2")
    // the bigram model is blind to this scramble by construction: the
    // separation it sees is a fraction of the trigram's (on this
    // fixture it even ranks the scramble as MORE typical)
    val biEnt = TextOps.docPerplexityBigram(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(triEnt(100L) - triEnt(0L) > 2 * (biEnt(100L) - biEnt(0L)),
      s"trigram separation ${triEnt(100L) - triEnt(0L)} should dwarf " +
        s"bigram ${biEnt(100L) - biEnt(0L)} on a bigram-preserving scramble")
  }

  test("trigram backoff: lower-order mass rescues novel trigrams; weights validated") {
    val docs = trigramFixture
    def ce(l3: Double, l2: Double, l1: Double): Double =
      TextOps.docPerplexityTrigram(docs, l3 = l3, l2 = l2, l1 = l1)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap.apply(100L)
    // pure trigram puts the scramble's novel trigrams on the α floor;
    // every interpolation step toward the (familiar) bigram/unigram
    // orders strictly lowers its cross-entropy
    val pure = ce(1.0, 0.0, 0.0)
    val interp = ce(0.6, 0.3, 0.1)
    val heavyBackoff = ce(0.2, 0.5, 0.3)
    assert(pure > interp && interp > heavyBackoff,
      s"backoff must monotonically rescue novel trigrams: $pure, $interp, $heavyBackoff")
    // weights must be a distribution
    intercept[IllegalArgumentException](
      TextOps.docPerplexityTrigram(docs, l3 = 0.9, l2 = 0.3, l1 = 0.1))
    intercept[IllegalArgumentException](
      TextOps.docPerplexityTrigram(docs, l3 = 1.2, l2 = -0.1, l1 = -0.1))
  }

  test("hybrid RRF: both-arm docs outrank single-arm docs; scores are exact rank math") {
    val s = spark
    import s.implicits._
    // doc 5: lexical hit AND semantic twin of the query (vec 0)
    // doc 7: lexical hit only (orthogonal embedding)
    // doc 9: semantic twin only (no query terms)
    // fillers 1-4: neither
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump today"),
      (4L, "sphinx of black quartz judge my vow"),
      (5L, "vector join stream vector join stream vector join"),
      (7L, "join the stream of vector data today"),
      (9L, "completely unrelated words about gardens and tea"))
      .toDF("doc_id", "text")
    def unit(dims: Int, axis: Int) = Array.tabulate(dims)(d => if (d == axis) 1f else 0f)
    val embs = Seq(
      (0L, unit(8, 0)), // the query vector
      (1L, unit(8, 3)), (2L, unit(8, 4)), (3L, unit(8, 5)), (4L, unit(8, 6)),
      (5L, Array.tabulate(8)(d => if (d == 0) 1f else if (d == 1) 0.1f else 0f)),
      (7L, unit(8, 2)),
      (9L, Array.tabulate(8)(d => if (d == 0) 1f else if (d == 1) 0.2f else 0f)))
      .toDF("vec_id", "embedding")
    val out = TextOps.searchHybrid(docs, embs,
      terms = Seq("join", "vector", "stream"), queryVecId = 0L,
      kPool = 3, kRrf = 60, kTop = 5)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toInt),
        Option(r.get(2)).map(_.toString.toInt), r.getDouble(3)))
    val byDoc = out.map(t => t._1 -> t).toMap
    // doc 5 is rank 1 lexical (saturated) and rank 1 semantic (cos .995
    // beats doc 9's .981) — it must lead the fused list
    assert(out.head._1 == 5L, s"expected doc 5 first, got ${out.toSeq}")
    assert(byDoc(5L)._2.contains(1) && byDoc(5L)._3.contains(1))
    // single-arm docs carry exactly one rank; the RRF is the exact sum
    assert(byDoc(7L)._2.nonEmpty && byDoc(7L)._3.isEmpty, s"doc 7: ${byDoc(7L)}")
    assert(byDoc(9L)._2.isEmpty && byDoc(9L)._3.nonEmpty, s"doc 9: ${byDoc(9L)}")
    out.foreach { case (_, rl, rs, rrf) =>
      val expect = rl.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rs.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"rrf $rrf != $expect")
    }
    // both-arm beats single-arm here: doc 5 in both pools > any one-arm doc
    assert(byDoc(5L)._4 > byDoc(7L)._4 && byDoc(5L)._4 > byDoc(9L)._4)
  }

  test("logreg distillation: separates prose from noise, deterministically") {
    val s = spark
    import s.implicits._
    // separable by construction: prose docs pass every quality rule
    // (length, stopwords, clean chars); noise docs are digit/symbol
    // soup failing length + punct + digit — the weak label differs and
    // the features carry it
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat naps by the warm fire while we watch the rain fall"
    val noise = "$$$ 111 222 %%% 333 ### 444 &&& 555 @@@"
    val docs = ((0 until 12).map(i => (i.toLong, prose + s" day $i")) ++
      (100 until 112).map(i => (i.toLong, noise + s" $i"))).toDF("doc_id", "text")
    val out = TextOps.docQualityLogreg(docs, iters = 25, lr = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val (good, bad) = out.partition(_._1 < 100)
    assert(good.forall(_._2 == 1) && bad.forall(_._2 == 0),
      s"weak labels not separable as designed: ${out.toSeq}")
    // the learned scores must order every prose doc above every noise doc
    assert(good.map(_._3).min > bad.map(_._3).max,
      s"model failed to separate: good=${good.map(_._3).min} <= bad=${bad.map(_._3).max}")
    // and with enough steps the decision boundary matches the labels
    assert(good.forall(_._4 == 1) && bad.forall(_._4 == 0),
      s"predictions disagree with labels: ${out.toSeq}")
    // determinism: the trajectory is fully pinned (no RNG, rounded steps)
    val again = TextOps.docQualityLogreg(docs, iters = 25, lr = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("split drift PSI: md5 splits sit in the no-shift band; a biased split screams") {
    val s = spark
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val psi = TextOps.splitDriftPsi(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(psi.keySet == Set("val", "test"))
    // the hash splitter is quality-blind by construction: both holdouts
    // must sit inside the classic PSI < 0.1 "no shift" band
    psi.foreach { case (split, v) =>
      assert(v >= 0 && v < 0.1, s"$split drifted: psi=$v")
    }
    // sensitivity: a deliberately biased split (holdout = the lowest-
    // quality docs) must blow far past the band — the metric actually
    // detects what it claims to
    val q = TextOps.docQuality(docs).select(col("doc_id"), col("quality_score"))
    val biased = q.select(col("doc_id"),
      when(col("quality_score") < 1.0, "val").otherwise("train").as("split"))
    val bad = TextOps.splitDriftPsi(docs, splits = Some(biased)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bad("val") > 0.5, s"biased split not detected: ${bad("val")}")
  }

  test("keep-best dedup keeps the cleanest cluster member, not the lowest id") {
    val s = spark
    import s.implicits._
    // three near-identical docs (jaccard >= 0.8): doc 1 (the min id) is
    // punct-poisoned below the quality bar; docs 2 and 3 are clean and
    // tie on quality -> the keeper must be doc 2 (best quality, lower
    // id), NOT doc 1 (min id). doc 9 is an unrelated singleton.
    val base = ("the quick brown fox jumps over the lazy dog and then " +
      "a small cat naps by the warm fire while we watch the rain fall " +
      "on the quiet roof as birds sing in the old oak tree near the gate").split(" ")
    def doc(subst: Map[Int, String]) =
      base.indices.map(i => subst.getOrElse(i, base(i))).mkString(" ")
    val junk = "$" * 80 // pushes punct_ratio over 0.2 of ~250 norm chars
    val docs = Seq(
      (1L, doc(Map(20 -> junk)), "en", "web"),
      (2L, doc(Map.empty[Int, String]), "en", "web"),
      (3L, doc(Map(40 -> "meadow")), "en", "web"),
      (9L, "completely different text about ships and the open sea " +
        "with sails and salt wind over the long grey waves at dawn", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val kept = TextOps.nearDupKeepBest(docs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L), s"kept $kept — expected best-quality doc 2 + singleton 9")
    // contrast: the min-id rule keeps the poisoned doc 1
    val minId = TextOps.nearDupKeep(docs).collect().map(_.getLong(0)).toSet
    assert(minId.contains(1L) && !minId.contains(2L),
      s"fixture no longer distinguishes the rules: min-id kept $minId")
  }

  test("cross-corpus near-dup reports only corpus-vs-reference pairs; df cap holds") {
    val s = spark
    import s.implicits._
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    def doc(subst: Map[Int, String]) =
      base.indices.map(i => subst.getOrElse(i, base(i))).mkString(" ")
    // corpus doc 11 near-dups REFERENCE doc 100; corpus docs 11 and 12
    // near-dup EACH OTHER (must NOT be reported — bipartite only);
    // corpus doc 13 is unrelated
    val corpus = Seq(
      (11L, doc(Map(5 -> "x"))),
      (12L, doc(Map(7 -> "y"))),
      (13L, "totally different words about rivers bridges stones and towers " +
        "standing over the calm green water at night under stars"))
      .toDF("doc_id", "text")
    val reference = Seq(
      (100L, doc(Map.empty[Int, String])),
      (101L, "another unrelated reference text on music halls and violins " +
        "playing slow tunes for the quiet crowd after the late show"))
      .toDF("doc_id", "text")
    val pairs = TextOps.nearDupCross(corpus, reference, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((11L, 100L), (12L, 100L)),
      s"expected corpus 11,12 ~ ref 100 only, got $pairs")
    // df cap: a shingle present in MORE reference docs than maxDf
    // generates no candidates through that shingle
    val spam = (0 until 8).map(i => (200L + i, doc(Map.empty[Int, String])))
      .toDF("doc_id", "text")
    val capped = TextOps.nearDupCross(corpus, spam, minJaccard = 0.5, maxDf = 3)
    assert(capped.count() == 0, "stop-shingled reference set must emit nothing under the cap")
  }

  test("retrieval metrics: recall@k and RR match hand computation; zero-hit queries surface") {
    val s = spark
    import s.implicits._
    import graft.ops.RetrievalEval
    // q1: truth {10, 11, 12}; ranked hits 11 at rank 2, 12 at rank 5
    // q2: truth {20}; ranked top-k misses it entirely
    // q3: truth {30}; hit at rank 1
    val ranked = Seq(
      (1L, 99L, 1), (1L, 11L, 2), (1L, 98L, 3), (1L, 97L, 4), (1L, 12L, 5),
      (2L, 96L, 1), (2L, 20L, 11), // outside kTop=10
      (3L, 30L, 1)).toDF("query_id", "doc_id", "rank")
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "doc_id")
    val m = RetrievalEval.metrics(ranked, truth, kTop = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) == ((3L, 2L, 0.666667, 0.5)), s"q1: ${m(1L)}")
    assert(m(2L) == ((1L, 0L, 0.0, 0.0)), s"q2 (zero hits) must surface: ${m(2L)}")
    assert(m(3L) == ((1L, 1L, 1.0, 1.0)), s"q3: ${m(3L)}")
  }

  test("shingles guard: fewer tokens than k yields empty, not garbage") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, "only two")).toDF("doc_id", "text")
      .select(TextFns.shingles(TextFns.tokens(col("text")), 3).as("sh"))
      .head().getSeq[String](0)
    assert(tiny.isEmpty)
  }

  /** Deterministic lowercase letter strings (no whitespace, so
    * normalize() is the identity and span offsets are exact). */
  private def gen(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  test("dup spans: planted shared passages merge into exact spans; within-doc repeats don't count") {
    val s = spark
    import s.implicits._
    val P = gen(1, 60)   // shared head of A and B
    val Q = gen(2, 50)   // doc D = Q+Q, repeated only WITHIN the doc
    val P1 = gen(3, 60)  // two shared passages of E and F ...
    val P2 = gen(4, 60)  // ... separated by distinct 40-char middles
    val fixture = Seq(
      (1L, P + gen(11, 40)),            // A: dup span = P
      (2L, P + gen(12, 40)),            // B: dup span = P
      (3L, gen(13, 70)),                // C: fully unique
      (4L, Q + Q),                      // D: self-repeat, cross-doc unique
      (5L, P1 + gen(15, 40) + P2),      // E: two spans
      (6L, P1 + gen(16, 40) + P2))      // F: two spans
      .toDF("doc_id", "text")
    val out = TextOps.docDupSpans(fixture).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // A/B: windows at starts 1,11,21 all inside P (21+39=60); merged span
    // [1,61) = 60 chars of a 100-char doc.
    assert(out(1L) == ((1L, 60L, 0.6)), s"A: ${out(1L)}")
    assert(out(2L) == ((1L, 60L, 0.6)), s"B: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0.0)), s"C: ${out(3L)}")
    // D repeats a 40-char block at starts 1 and 51, but only within
    // itself — the >=2 DISTINCT docs rule must not fire.
    assert(out(4L) == ((0L, 0L, 0.0)), s"D: ${out(4L)}")
    // E/F: P1 spans starts {1,11,21} -> [1,61); P2 occupies [101,160],
    // spans starts {101,111,121} -> [101,161); two 60-char spans of 160.
    assert(out(5L) == ((2L, 120L, 0.75)), s"E: ${out(5L)}")
    assert(out(6L) == ((2L, 120L, 0.75)), s"F: ${out(6L)}")
  }

  test("dup spans: stride-offset alignment only pairs identically-aligned windows") {
    val s = spark
    import s.implicits._
    val P = gen(21, 60)
    // B embeds P at offset 5 (NOT a stride multiple): none of B's windows
    // line up with A's P-substrings, so neither doc gets a span. This
    // pins the operator's documented stride semantics (span recall needs
    // alignment; stride 1 would catch it at 10x the window count).
    val fixture = Seq(
      (1L, P + gen(22, 40)),
      (2L, gen(23, 5) + P + gen(24, 40)))
      .toDF("doc_id", "text")
    val out = TextOps.docDupSpans(fixture).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 0L && out(2L) == 0L, s"misaligned P must not pair: $out")
    // ... and at a stride-multiple offset (10) the windows line up again.
    val aligned = Seq(
      (1L, P + gen(22, 40)),
      (2L, gen(25, 10) + P + gen(24, 40)))
      .toDF("doc_id", "text")
    val out2 = TextOps.docDupSpans(aligned).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out2(1L) == ((1L, 60L)), s"A aligned: ${out2(1L)}")
    assert(out2(2L) == ((1L, 60L)), s"B aligned: ${out2(2L)}")
  }

  test("dup excision: canonical doc keeps its copy, others lose the span, stitch is exact") {
    val s = spark
    import s.implicits._
    val P = gen(31, 60)
    val T1 = gen(32, 40)
    val T2 = gen(33, 40)
    val P3 = gen(34, 40)
    val fixture = Seq(
      (1L, P + T1),      // canonical holder of P's windows (min doc_id)
      (2L, P + T2),      // loses span [1,61) -> clean = T2
      (7L, P3 + gen(35, 40)), // canonical holder of the P3 window
      (8L, P3))          // 40-char doc, fully excised -> clean = ""
      .toDF("doc_id", "text")
    val out = TextOps.docDupExcise(fixture).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    def md5(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L) == ((0L, 0L, 100L, md5(P + T1))), s"doc1: ${out(1L)}")
    assert(out(2L) == ((1L, 60L, 40L, md5(T2))), s"doc2: ${out(2L)}")
    assert(out(7L) == ((0L, 0L, 80L, md5(P3 + gen(35, 40)))), s"doc7: ${out(7L)}")
    assert(out(8L) == ((1L, 40L, 0L, md5(""))), s"doc8 fully excised: ${out(8L)}")
  }

  test("dup excision: the segment between two excised spans survives the stitch") {
    val s = spark
    import s.implicits._
    val P1 = gen(41, 60)
    val P2 = gen(42, 60)
    val mid = gen(43, 40)
    val fixture = Seq(
      (1L, P1 + gen(44, 40) + P2), // canonical for both passages
      (2L, P1 + mid + P2))         // loses [1,61) and [101,161)
      .toDF("doc_id", "text")
    val out = TextOps.docDupExcise(fixture).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    def md5(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(2L) == ((2L, 120L, 40L, md5(mid))), s"doc2: ${out(2L)}")
    assert(out(1L)._1 == 0L, s"canonical doc must keep everything: ${out(1L)}")
  }

  test("delta dup spans: incoming scored against the corpus index only, delta-delta out of scope") {
    val s = spark
    import s.implicits._
    val P = gen(51, 60)  // passage held by the existing corpus
    val R = gen(52, 60)  // passage shared only WITHIN the incoming batch
    val existing = Seq(
      (1L, P + gen(53, 40)),
      (3L, gen(54, 70)))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, P + R),             // P-span flagged; R not in corpus
      (20L, gen(55, 70)),       // clean
      (30L, R + gen(56, 40)))   // R only shared with doc 10 -> NOT flagged
      .toDF("doc_id", "text")
    val out = TextOps.docDupSpansIncremental(existing, incoming).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(10L, 20L, 30L), "scores incoming docs only")
    assert(out(10L) == ((1L, 60L, 0.5)), s"doc10: ${out(10L)}")
    assert(out(20L) == ((0L, 0L, 0.0)), s"doc20: ${out(20L)}")
    assert(out(30L) == ((0L, 0L, 0.0)), s"doc30 delta-delta must not flag: ${out(30L)}")
    // consistency: the batch operator over existing+incoming flags at
    // least everything the delta probe found for the incoming docs
    val batch = TextOps.docDupSpans(existing.unionByName(incoming)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch(10L) >= out(10L)._2, "batch view is a superset of the delta view")
  }

  test("source overlap: planted cross-source passages count per pair, within-source sharing doesn't") {
    val s = spark
    import s.implicits._
    val P = gen(71, 60)   // shared by src_a and src_b
    val Q = gen(72, 60)   // shared by two docs of src_a ONLY
    val fixture = Seq(
      (1L, P + gen(73, 40), "src_a"),
      (2L, P + gen(74, 40), "src_b"),
      (3L, Q + gen(75, 40), "src_a"),
      (4L, Q + gen(76, 40), "src_a"),   // within-source dup: no pair row
      (5L, gen(77, 70), "src_c"))      // unique: no pair row
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // P's interior windows at starts 1,11,21 -> 3 distinct shared keys
    assert(out == Map(("src_a", "src_b") -> 3L), s"got $out")
  }

  test("source overlap: a window shared by three sources expands to all three pairs") {
    val s = spark
    import s.implicits._
    val P = gen(91, 60)
    val fixture = Seq(
      (1L, P + gen(92, 40), "src_a"),
      (2L, P + gen(93, 40), "src_b"),
      (3L, P + gen(94, 40), "src_c"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // P's 3 interior window keys are shared by all three sources: the
    // row-local expansion of the sorted set {a,b,c} must yield exactly
    // the 3 ordered pairs, each counting all 3 keys
    assert(out == Map(
      ("src_a", "src_b") -> 3L,
      ("src_a", "src_c") -> 3L,
      ("src_b", "src_c") -> 3L), s"got $out")
  }

  test("source effective size: mass conserved and dup chars land on the right source") {
    val s = spark
    import s.implicits._
    val P = gen(81, 60)
    val fixture = Seq(
      (1L, P + gen(82, 40), "src_a"),   // 100 chars, span 60 dup
      (2L, P + gen(83, 40), "src_b"),   // 100 chars, span 60 dup
      (3L, gen(84, 100), "src_a"))      // 100 chars, clean
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceEffectiveSize(fixture).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out("src_a") == ((2L, 200L, 60L, 140L, 0.3)), s"src_a: ${out("src_a")}")
    assert(out("src_b") == ((1L, 100L, 60L, 40L, 0.6)), s"src_b: ${out("src_b")}")
    out.values.foreach { case (_, total, dup, eff, _) =>
      assert(total == dup + eff, "mass conservation")
    }
  }

  test("langid confusion: planted languages land on the diagonal, gibberish in 'und'") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "the cat and the dog are in the house with a friend", "en"),
      (2L, "el gato y el perro en la casa con un amigo de todos", "es"),
      (3L, "der hund und die katze sind in dem haus mit einem freund", "de"),
      (4L, "xqzt blorp frumious bandersnatch vorpal snicker snack", "en")) // mislabeled gibberish
      .toDF("doc_id", "text", "lang")
    val out = TextOps.langIdConfusion(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("en", "en")) == 1L, s"got $out")
    assert(out(("es", "es")) == 1L, s"got $out")
    assert(out(("de", "de")) == 1L, s"got $out")
    assert(out(("en", "und")) == 1L, s"gibberish must fall to und: $out")
    assert(out.values.sum == 4L)
  }

  test("split leakage: a planted near-dup pair crossing splits is reported with its splits") {
    val s = spark
    import s.implicits._
    // find two doc_ids the md5 splitter sends to DIFFERENT splits, plant
    // a near-identical text pair on them, plus a same-split twin pair as
    // the negative control
    val probe = (1L to 200L).map(i => (i, s"probe $i")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val assign = TextOps.splitAssign(probe).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val bySplit = assign.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    assert(bySplit.size >= 2, s"need >= 2 splits in 200 ids: ${bySplit.keySet}")
    val splits = bySplit.keys.toSeq.sorted
    val (sA, sB) = (splits(0), splits(1))
    val crossA = bySplit(sA).head
    val crossB = bySplit(sB).head
    val Seq(same1, same2) = bySplit(sA).tail.take(2)
    // 40 DISTINCT tokens: one trailing-token difference costs ~3 of ~38
    // distinct shingles per side, jaccard ≈ 35/41 ≈ 0.85 — above the bar
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince primo secondo terzo quarto quinto"
    val fixture = Seq(
      (crossA, base + " one"),
      (crossB, base + " two"),          // near-dup crossing sA/sB
      (same1, "totally different words live here " + base.takeRight(40)),
      (same2, "totally different words live here " + base.takeRight(40) + " x"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val out = TextOps.splitLeakage(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val key = (Seq(sA, sB).min, Seq(sA, sB).max)
    assert(out.getOrElse(key, 0L) >= 1L, s"cross-split pair must report: $out")
    // the same-split near-dup contributes to NO cross-split cell
    assert(out.values.sum == out.getOrElse(key, 0L), s"same-split pair leaked: $out")
  }

  test("cluster-aware splits: zero leakage where the plain splitter leaks; weights preserved") {
    // the sf0.001 corpus has real near-dup pairs; the id-hash splitter
    // leaks some across splits (the detector's reason to exist), while
    // the cluster-keyed assignment leaks none BY CONSTRUCTION
    val plain = TextOps.splitLeakage(docs)
    val clustered = TextOps.leakageOf(docs, TextOps.splitAssignClusterAware(docs), 0.8)
    assert(plain.count() > 0, "corpus must exhibit plain-splitter leakage for the contrast")
    assert(clustered.count() == 0, "cluster-grain keys must leak nothing")
    // distribution: still roughly the configured weights
    val byCounts = TextOps.splitAssignClusterAware(docs)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byCounts.values.sum.toDouble
    TextOps.DefaultSplitWeights.foreach { case (name, w) =>
      val frac = byCounts.getOrElse(name, 0L) / total
      assert(math.abs(frac - w) < 0.1, s"$name: $frac vs weight $w")
    }
  }

  test("dup spans on the corpus: planted near-dups carry exact shared passages") {
    val out = TextOps.docDupSpans(docs)
    val withSpans = out.filter(col("n_dup_spans") > 0)
    assert(withSpans.count() > 0, "sf0.001 corpus plants near-dup docs; some must share 40-char runs")
    // frac is a fraction of the doc's own normalized length
    assert(out.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
  }

  test("xxhash64 span keying is bit-identical to the substring keying") {
    // the default shuffles 8-byte hashes; the substring form is the
    // oracle twin — on the corpus (planted near-dups included) every
    // span-family operator must produce the identical frame either way
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(rows(TextOps.docDupSpans(docs)) ==
      rows(TextOps.docDupSpans(docs, hashKey = false)))
    assert(rows(TextOps.docDupExcise(docs)) ==
      rows(TextOps.docDupExcise(docs, hashKey = false)))
    assert(rows(TextOps.sourceOverlap(docs)) ==
      rows(TextOps.sourceOverlap(docs, hashKey = false)))
    // probe against a hashed index == probe against a substring index
    val ex = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    assert(rows(TextOps.docDupSpansProbe(TextOps.dupSpanIndex(ex), inc)) ==
      rows(TextOps.docDupSpansProbe(TextOps.dupSpanIndex(ex, hashKey = false), inc)))
  }
}
