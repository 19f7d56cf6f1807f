package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}

import graft.ops.{RetrievalEval, TextOps, VectorOps}

/** the text/LLM-data-pipeline surface: doc stats/quality, dedup families, sampling/splits, retrieval, BPE, corpus curation — the `Text` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object TextQueries {

  import SparkEntry.materializeAndClean
  import EntryOracleGen._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- text analysis / dedup over `documents` (extended surface)
    "doc_stats" -> ((s, dir) => TextOps.docStats(Tables.documents(s, dir))),

    "doc_quality" -> ((s, dir) => TextOps.docQuality(Tables.documents(s, dir))),

    "doc_langid" -> ((s, dir) => TextOps.docLangId(Tables.documents(s, dir))),

    // langid accuracy readout: predicted vs labeled language
    "langid_confusion" -> ((s, dir) =>
      TextOps.langIdConfusion(Tables.documents(s, dir))),

    // tokenizer-budget readout: token mass covered by a top-k vocab
    "vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(Tables.documents(s, dir))),

    "doc_repetition" -> ((s, dir) => TextOps.docRepetition(Tables.documents(s, dir))),

    "doc_fingerprint" -> ((s, dir) => TextOps.docFingerprint(Tables.documents(s, dir))),

    "dedup_exact" -> ((s, dir) => TextOps.dedupExact(Tables.documents(s, dir))),

    // ingest-time exact-dup probe: delta (doc_id % 10 = 0, plus PLANTED
    // re-keyed copies of existing docs — the synthetic corpus has no
    // natural cross-split exact dups at verify scale, and a probe whose
    // expected answer is empty cannot catch a row-dropping bug) vs the
    // corpus fingerprint index
    "dedup_exact_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val existing = docs.filter(col("doc_id") % 10 =!= 0)
      val planted = existing.filter(col("doc_id") % 97 === 3)
        .withColumn("doc_id", col("doc_id") + 9000000L)
      TextOps.dedupExactIncremental(
        existing, docs.filter(col("doc_id") % 10 === 0).unionByName(planted))
    }),

    // the same probe behind a literal-bitset bloom pre-filter (row-local
    // at the delta scan; no false negatives, FPs die in the verify join
    // -> bit-identical result, shared oracle). The bitset build is
    // cost-gated on corpus row count: below the threshold it falls
    // through to the plain probe (bench showed the unconditional build
    // pays 5x fixed overhead at sf scales)
    "dedup_exact_delta_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val existing = docs.filter(col("doc_id") % 10 =!= 0)
      val planted = existing.filter(col("doc_id") % 97 === 3)
        .withColumn("doc_id", col("doc_id") + 9000000L)
      TextOps.dedupExactIncrementalBloom(
        existing, docs.filter(col("doc_id") % 10 === 0).unionByName(planted))
    }),

    "neardup_jaccard" -> ((s, dir) => TextOps.nearDupJaccard(Tables.documents(s, dir))),

    "doc_novelty" -> ((s, dir) => TextOps.docNovelty(Tables.documents(s, dir))),

    "neardup_keep" -> ((s, dir) => TextOps.nearDupKeep(Tables.documents(s, dir))),

    "neardup_keep_best" -> ((s, dir) => TextOps.nearDupKeepBest(Tables.documents(s, dir))),

    "neardup_cross" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.nearDupCross(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    }),

    "neardup_clusters" -> ((s, dir) => TextOps.nearDupClusters(Tables.documents(s, dir))),

    "neardup_pagerank" -> ((s, dir) => TextOps.nearDupPageRank(Tables.documents(s, dir))),

    "neardup_graph_stats" -> ((s, dir) => TextOps.nearDupGraphStats(Tables.documents(s, dir))),

    "vocab_collocations" -> ((s, dir) => TextOps.vocabCollocations(Tables.documents(s, dir))),

    "doc_sample" -> ((s, dir) => TextOps.sampleStratified(Tables.documents(s, dir))),

    "pack_sequences" -> ((s, dir) => TextOps.packSequences(Tables.documents(s, dir))),

    "doc_sample_k" -> ((s, dir) => TextOps.samplePerGroup(Tables.documents(s, dir))),

    "corpus_keep" -> ((s, dir) => TextOps.corpusCuration(Tables.documents(s, dir))),

    "corpus_keep_semantic" -> ((s, dir) => TextOps.corpusCurationSemantic(
      Tables.documents(s, dir), Tables.embeddings(s, dir))),

    "corpus_mixture" -> ((s, dir) => TextOps.corpusMixture(Tables.documents(s, dir))),

    "doc_sample_weighted" -> ((s, dir) => TextOps.sampleWeighted(Tables.documents(s, dir))),

    "doc_splits" -> ((s, dir) => TextOps.splitAssign(Tables.documents(s, dir))),

    "doc_search_bm25" -> ((s, dir) => TextOps.searchBm25(Tables.documents(s, dir))),

    "doc_search_hybrid" -> ((s, dir) =>
      TextOps.searchHybrid(Tables.documents(s, dir), Tables.embeddings(s, dir))),

    "retrieval_eval_hashed" -> ((s, dir) => {
      val ranked = TextOps.searchHashedTopK(Tables.documents(s, dir))
        .select(col("query_id"), col("doc_id"), col("rank"))
      val truth = VectorOps.annBruteForce(Tables.embeddings(s, dir))
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      RetrievalEval.metrics(ranked, truth)
    }),

    "doc_quality_logreg" -> ((s, dir) => TextOps.docQualityLogreg(Tables.documents(s, dir))),

    "split_drift_psi" -> ((s, dir) => TextOps.splitDriftPsi(Tables.documents(s, dir))),

    // split hygiene: near-dup pairs crossing train/val/test boundaries
    "split_leakage" -> ((s, dir) => TextOps.splitLeakage(Tables.documents(s, dir))),

    // the fix: cluster-grain split keys — leakage structurally zero
    "doc_splits_clustered" -> ((s, dir) =>
      TextOps.splitAssignClusterAware(Tables.documents(s, dir))),

    "doc_cross_entropy" -> ((s, dir) => TextOps.docCrossEntropy(Tables.documents(s, dir))),

    "doc_bigram_entropy" -> ((s, dir) => TextOps.docPerplexityBigram(Tables.documents(s, dir))),

    "doc_trigram_entropy" -> ((s, dir) => TextOps.docPerplexityTrigram(Tables.documents(s, dir))),

    "dup_passages" -> ((s, dir) => TextOps.dupPassages(Tables.documents(s, dir))),

    "doc_chunks" -> ((s, dir) => TextOps.docChunks(Tables.documents(s, dir))),

    "doc_chunks_gen" -> ((s, dir) => TextOps.docChunksGen(Tables.documents(s, dir))),

    "corpus_diff" -> ((s, dir) => {
      // two simulated corpus versions derived deterministically from one
      // table: doc_id≡3 (mod 10) exists only in v2 ("added"), ≡7 only in
      // v1 ("removed"), ≡5 is edited in v2 ("changed")
      val d = Tables.documents(s, dir)
      val v1 = d.filter(col("doc_id") % 10 =!= 3)
      val v2 = d.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      TextOps.corpusDiff(v1, v2)
    }),

    "doc_pii" -> ((s, dir) => TextOps.docPii(Tables.documents(s, dir))),

    "vocab_bpe_pairs" -> ((s, dir) => TextOps.vocabBpePairs(Tables.documents(s, dir))),

    "vocab_bpe" -> ((s, dir) => TextOps.vocabBpeDf(Tables.documents(s, dir))),

    // encode half of the tokenizer: train 10 merges, apply them — the
    // greedy fold has no faithful SQL form, so rows-only (spec-pinned)
    "doc_bpe_encode" -> ((s, dir) => TextOps.bpeEncode(Tables.documents(s, dir))),

    "vocab_topk" -> ((s, dir) => TextOps.vocabTopK(Tables.documents(s, dir))),

    "doc_top_terms" -> ((s, dir) => TextOps.docTopTerms(Tables.documents(s, dir))),

    "doc_winnow" -> ((s, dir) => TextOps.docWinnow(Tables.documents(s, dir))),

    "neardup_winnow" -> ((s, dir) => TextOps.nearDupWinnow(Tables.documents(s, dir))),

    // winnow probe at ingest: delta fps vs the corpus's capped postings
    "neardup_winnow_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.nearDupWinnowIncremental(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    }),

    // incremental dedup: docs with doc_id % 10 = 0 play the "new batch".
    // This INLINE arm re-shingles the corpus per batch (the single-shot
    // / oracle-parity shape); the indexed arm below is the 100-TB path
    "neardup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.nearDupJaccardIncremental(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    }),

    // the PERSISTED-INDEX twin: the corpus side comes from the ingest
    // state's inverted shingle postings (shp/), so per-batch work is
    // delta-proportional and corpus-size-flat — bit-identical pairs
    // (shared oracle with neardup_incremental)
    "neardup_jaccard_delta_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-ndji").toString
      val idx = new graft.incremental.IngestIndex(s, s"$scratch/state",
        withShingles = true)
      idx.build(docs.filter(col("doc_id") % 10 =!= 0))
      materializeAndClean(
        idx.jaccardDeltaProbe(docs.filter(col("doc_id") % 10 === 0)), scratch)
    }),

    // decontamination: docs with doc_id % 10 = 0 play the benchmark/eval set
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    }),

    // signature-based near-dup (hash families not portable to DuckDB —
    // rows-only check here; recall vs exact jaccard asserted in DedupSpec)
    "neardup_minhash" -> ((s, dir) => TextOps.nearDupMinhash(Tables.documents(s, dir))),

    "neardup_simhash" -> ((s, dir) => TextOps.nearDupSimhash(Tables.documents(s, dir))),

    "doc_normalize" -> ((s, dir) => TextOps.docNormalize(Tables.documents(s, dir))),

    // intra-corpus duplicated-passage spans (Lee et al. 2021 shape):
    // exact 40-char windows at stride 10, cross-doc dups, merged spans
    "doc_dup_spans" -> ((s, dir) =>
      TextOps.docDupSpans(Tables.documents(s, dir))),

    // the rewrite half: excise non-canonical duplicate spans, stitch the
    // kept segments, account + fingerprint the cleaned text
    "doc_dup_excise" -> ((s, dir) =>
      TextOps.docDupExcise(Tables.documents(s, dir))),

    // delta-proportional span check: new batch (doc_id % 10 = 0) probed
    // against the existing corpus's window-key index
    "doc_dup_spans_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.docDupSpansIncremental(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
    }),

    // provenance rollups of the span machinery: which sources copy from
    // each other, and each source's post-dedup effective contribution
    "source_overlap" -> ((s, dir) =>
      TextOps.sourceOverlap(Tables.documents(s, dir))),

    "source_effective_size" -> ((s, dir) =>
      TextOps.sourceEffectiveSize(Tables.documents(s, dir))),

    // deterministic pseudo-shuffled shard manifest (training export)
    "export_manifest" -> ((s, dir) =>
      graft.ops.ExportOps.shardManifest(Tables.documents(s, dir))),

    // length-balanced dealing by global (n_chars, doc_id) rank
    "export_manifest_balanced" -> ((s, dir) =>
      graft.ops.ExportOps.shardManifestBalanced(Tables.documents(s, dir)))
  )

  val oracles: Map[String, String] = Map(

    "doc_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |  len(t) AS n_tokens,
         |  len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_bpe,
         |  length(norm) AS n_chars_norm,
         |  round(len(list_filter(t, x -> x IN ${inList(graft.functions.TextFns.StopwordsEn)}))::double / len(t), 6) AS stopword_ratio,
         |  round(len(regexp_extract_all(norm, '[^a-z0-9 ]'))::double / greatest(length(norm), 1), 6) AS punct_ratio,
         |  round(len(regexp_extract_all(norm, '[0-9]'))::double / greatest(length(norm), 1), 6) AS digit_ratio,
         |  round(list_reduce(list_transform(t, x -> length(x)), (a, b) -> a + b)::double / len(t), 6) AS mean_token_len
         |FROM toks""".stripMargin,

    "doc_quality" ->
      s"""WITH $toksCte,
         |stats AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    round(len(list_filter(t, x -> x IN ${inList(graft.functions.TextFns.StopwordsEn)}))::double / len(t), 6) AS stopword_ratio,
         |    round(len(regexp_extract_all(norm, '[^a-z0-9 ]'))::double / greatest(length(norm), 1), 6) AS punct_ratio,
         |    round(len(regexp_extract_all(norm, '[0-9]'))::double / greatest(length(norm), 1), 6) AS digit_ratio
         |  FROM toks)
         |SELECT doc_id,
         |  (n_tokens BETWEEN 20 AND 100000)::int AS length_ok,
         |  (stopword_ratio >= 0.001)::int AS stopword_ok,
         |  (punct_ratio <= 0.2)::int AS punct_ok,
         |  (digit_ratio <= 0.3)::int AS digit_ok,
         |  round(((n_tokens BETWEEN 20 AND 100000)::int + (stopword_ratio >= 0.001)::int
         |       + (punct_ratio <= 0.2)::int + (digit_ratio <= 0.3)::int)::double / 4, 6) AS quality_score
         |FROM stats""".stripMargin,

    "doc_langid" -> {
      val hits = Seq(
        "en" -> graft.functions.TextFns.StopwordsEn,
        "es" -> graft.functions.TextFns.StopwordsEs,
        "de" -> graft.functions.TextFns.StopwordsDe,
        "fr" -> graft.functions.TextFns.StopwordsFr)
      val hitCols = hits.map { case (n, ws) =>
        s"len(list_filter(t, x -> x IN ${inList(ws)})) AS hits_$n" }.mkString(",\n  ")
      val best = "greatest(hits_en, hits_es, hits_de, hits_fr)"
      val cases = hits.map { case (n, _) =>
        s"WHEN hits_$n > 0 AND hits_$n = $best THEN '$n'" }.mkString("\n  ")
      s"""WITH $toksCte,
         |h AS (SELECT doc_id,
         |  $hitCols
         |FROM toks)
         |SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
         |  CASE $cases ELSE 'und' END AS lang_pred
         |FROM h""".stripMargin
    },

    // Replays TextOps.vocabCoverage: token counts, (cnt desc, token)
    // rank, every k evaluated in one aggregate.
    "vocab_coverage" ->
      s"""WITH $toksCte,
         |tc AS (SELECT u.tok AS token, count(*) AS cnt
         |       FROM toks, UNNEST(t) AS u(tok)
         |       WHERE length(u.tok) > 0 GROUP BY 1),
         |r AS (SELECT token, cnt,
         |        row_number() OVER (ORDER BY cnt DESC, token) AS rk
         |      FROM tc),
         |a AS (SELECT sum(cnt)::BIGINT AS total,
         |  sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END)::BIGINT AS cov_10,
         |  sum(CASE WHEN rk <= 50 THEN cnt ELSE 0 END)::BIGINT AS cov_50,
         |  sum(CASE WHEN rk <= 100 THEN cnt ELSE 0 END)::BIGINT AS cov_100
         |  FROM r)
         |SELECT 10 AS k, cov_10 AS covered, total AS total_tokens,
         |  round(cov_10 / total::DOUBLE, 6) AS coverage FROM a
         |UNION ALL SELECT 50, cov_50, total, round(cov_50 / total::DOUBLE, 6) FROM a
         |UNION ALL SELECT 100, cov_100, total, round(cov_100 / total::DOUBLE, 6) FROM a""".stripMargin,

    // Replays TextOps.langIdConfusion: the doc_langid prediction joined
    // back to the labeled lang, counted per (label, prediction) cell.
    "langid_confusion" -> {
      val hits = Seq(
        "en" -> graft.functions.TextFns.StopwordsEn,
        "es" -> graft.functions.TextFns.StopwordsEs,
        "de" -> graft.functions.TextFns.StopwordsDe,
        "fr" -> graft.functions.TextFns.StopwordsFr)
      val hitCols = hits.map { case (n, ws) =>
        s"len(list_filter(t, x -> x IN ${inList(ws)})) AS hits_$n" }.mkString(",\n  ")
      val best = "greatest(hits_en, hits_es, hits_de, hits_fr)"
      val cases = hits.map { case (n, _) =>
        s"WHEN hits_$n > 0 AND hits_$n = $best THEN '$n'" }.mkString("\n  ")
      s"""WITH $toksCte,
         |h AS (SELECT doc_id,
         |  $hitCols
         |FROM toks),
         |p AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM h)
         |SELECT d.lang, p.lang_pred, count(*) AS n_docs
         |FROM documents d JOIN p USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },

    "doc_repetition" ->
      s"""WITH $toksCte,
         |grams AS (
         |  SELECT doc_id, length(norm) AS n_chars, ns.n,
         |         array_to_string(t[i:i+ns.n-1], ' ') AS gram
         |  FROM toks, (VALUES (2), (3)) AS ns(n),
         |       UNNEST(range(1, len(t) - ns.n + 2)) AS u(i)
         |  WHERE len(t) >= ns.n),
         |cnt AS (
         |  SELECT doc_id, n_chars, n, gram, count(*) AS cnt
         |  FROM grams GROUP BY ALL),
         |top2 AS (
         |  SELECT doc_id,
         |    round((max(cnt * 16777216 + length(gram)) // 16777216)
         |          * (max(cnt * 16777216 + length(gram)) % 16777216)
         |          / any_value(n_chars), 6) AS top2_frac
         |  FROM cnt WHERE n = 2 GROUP BY doc_id),
         |dup3 AS (
         |  SELECT doc_id,
         |    round(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) END), 0)
         |          / any_value(n_chars), 6) AS dup3_frac
         |  FROM cnt WHERE n = 3 GROUP BY doc_id)
         |SELECT toks.doc_id, len(t) AS n_tokens,
         |  round((len(t) - len(list_distinct(t)))::double / len(t), 6) AS dup_token_frac,
         |  coalesce(top2_frac, 0) AS top2_frac,
         |  coalesce(dup3_frac, 0) AS dup3_frac
         |FROM toks LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH $toksCte
         |SELECT doc_id, md5(norm) AS fp_md5, length(norm) AS fp_len FROM toks""".stripMargin,

    "dedup_exact" ->
      s"""WITH $toksCte
         |SELECT md5(norm) AS fp_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
         |FROM toks GROUP BY 1""".stripMargin,

    // Replays TextOps.dedupExactIncremental: the delta's fingerprints
    // (the % 10 = 0 split plus the PLANTED re-keyed copies of existing
    // % 97 = 3 docs — guaranteed hits, so the probe is non-vacuous at
    // verify scale) joined to the existing split's (fp -> min doc)
    // index. The bloom arm composes to the identical result (no false
    // negatives; false positives die in the verify join), so both
    // queries share this SQL.
    "dedup_exact_delta" -> dedupExactDeltaOracle,

    "dedup_exact_delta_bloom" -> dedupExactDeltaOracle,

    "neardup_jaccard" ->
      s"""WITH $jaccardPairsCtes
         |SELECT doc_a, doc_b, shared, n_a, n_b, jaccard
         |FROM jacc_pairs WHERE jaccard >= 0.8""".stripMargin,

    // Full BPE-trainer replay (r9): ten generated merge rounds. Word
    // states ride as chr(1)||sym||chr(2)-wrapped strings so a plain
    // replace() IS the trainer's left-to-right non-overlapping merge
    // fold (each match is fully self-contained — no delimiter sharing,
    // no cross-symbol false matches); each round re-derives the symbol
    // lists, takes the (count desc, pair asc) argmax, and rewrites.
    // Exhausted rounds emit nothing here and carry word states forward
    // unchanged (duckBpeCtes's LEFT JOIN fallback). Guarded against
    // control-char collisions in the corpus (would corrupt the
    // wrapping — ASCII-printable verified).
    "vocab_bpe" -> {
      val sel = (0 until BpeOracleRounds).map(r =>
        s"""SELECT ${r + 1} AS "rank", a AS "left", b AS "right", a || b AS merged, n AS pair_count FROM t$r""")
        .mkString("\nUNION ALL ")
      s"WITH $duckBpeCtes\n" + sel
    },

    // The ENCODE half rides the SAME generated trainer chain: a word's
    // post-merge token count is simply the symbol count of its final
    // round state, so per-doc accounting is one words-to-final-states
    // join (train-then-encode round-trips exactly, as the Spark side's
    // kernel contract promises). Empty docs keep their zero row via the
    // left join.
    "doc_bpe_encode" -> {
      s"""WITH $duckBpeCtes,
         |wf AS (SELECT w, len(string_split(trim(replace(state, chr(2) || chr(1), chr(31)),
         |    chr(1) || chr(2)), chr(31))) AS n_tok FROM w$BpeOracleRounds),
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) z
         |  WHERE length(w) > 0),
         |agg AS (
         |  SELECT dw.doc_id, count(*) AS nw,
         |    CAST(SUM(length(dw.w)) AS BIGINT) AS nc,
         |    CAST(SUM(wf.n_tok) AS BIGINT) AS nt
         |  FROM dw JOIN wf USING (w) GROUP BY dw.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(nw, 0) AS n_words,
         |  COALESCE(nc, 0) AS n_chars,
         |  COALESCE(nt, 0) AS n_bpe_tokens,
         |  round(COALESCE(nc, 0)::DOUBLE / greatest(COALESCE(nt, 0), 1), 6) AS chars_per_token
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },

    // Full SimHash replay (r9): per-token xxhash64 via duckXxh64Ctes
    // (token MULTISET — repeats count, as in the kernel's fold), 64
    // sign counters as 2·set-bits > n per (doc, bit), banding by 8-bit
    // slice VALUE equality (Spark bands by hash(b, slice) — same
    // negligible-collision argument as the minhash oracle, here the
    // survivor additionally needs hamming <= 5 of 64), exact
    // bit_count(xor) verify.
    "neardup_simhash" -> {
      val pw = (0 until 64).map(b =>
        java.math.BigInteger.ONE.shiftLeft(b).toString).mkString("[", ", ", "]::HUGEINT[]")
      val p8 = (0 until 8).map(b =>
        java.math.BigInteger.ONE.shiftLeft(8 * b).toString).mkString("[", ", ", "]::HUGEINT[]")
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, t[ii.i] AS s FROM toks,
         |        UNNEST(generate_series(1, len(t))) AS ii(i)),
         |$duckXxh64Ctes,
         |bits AS (
         |  SELECT doc_id, bb.b AS b,
         |    (2 * SUM(((h // ($pw)[bb.b + 1]) % 2)::BIGINT) > COUNT(*)) AS bit_on
         |  FROM hu, UNNEST(generate_series(0, 63)) AS bb(b)
         |  GROUP BY doc_id, bb.b),
         |sig AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN bit_on THEN ($pw)[b + 1] ELSE 0::HUGEINT END) AS sg
         |  FROM bits GROUP BY doc_id),
         |bnd AS (
         |  SELECT doc_id, sg, bb.b AS b, (sg // ($p8)[bb.b + 1]) % 256 AS k
         |  FROM sig, UNNEST(generate_series(0, 7)) AS bb(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, a.sg AS sa, c.sg AS sb
         |  FROM bnd a JOIN bnd c ON a.b = c.b AND a.k = c.k AND a.doc_id < c.doc_id)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT doc_a, doc_b, bit_count(xor(
         |    (CASE WHEN sa >= 9223372036854775808::HUGEINT THEN sa - 18446744073709551616::HUGEINT ELSE sa END)::BIGINT,
         |    (CASE WHEN sb >= 9223372036854775808::HUGEINT THEN sb - 18446744073709551616::HUGEINT ELSE sb END)::BIGINT)) AS hamming
         |  FROM cand) z
         |WHERE hamming <= 5""".stripMargin
    },

    // Full MinHash replay (r9): shingle murmur3 via duckMurmur3Cte,
    // the 64-perm (a,b) family as literals from the SAME Scala function
    // the kernel uses, per-doc min signatures, banding by slice
    // EQUALITY (Spark bands by hash(b, slice) — a 32-bit band-key
    // collision could add a spurious candidate there, but it would
    // also need est_jaccard >= 0.8 (52/64 agreeing mins between
    // unrelated docs) to reach the output — jointly negligible), and
    // the signature-agreement estimate.
    "neardup_minhash" -> {
      val prime = graft.functions.TextFns.MinhashPrime
      val mins = (0 until 64).map { i =>
        val (a, b) = graft.functions.TextFns.permParams(i)
        s"min((h * $a + $b) % $prime)"
      }.mkString(",\n         |    ")
      s"""WITH $toksCte,
         |shx AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |$duckMurmur3Cte,
         |sig AS (
         |  SELECT doc_id, list_value(
         |    $mins) AS sg
         |  FROM mh GROUP BY doc_id),
         |bnd AS (SELECT doc_id, sg, unnest(generate_series(0, 7)) AS b FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, a.sg AS sa, c.sg AS sb
         |  FROM bnd a JOIN bnd c ON a.b = c.b
         |    AND a.sg[a.b*8 + 1 : a.b*8 + 8] = c.sg[c.b*8 + 1 : c.b*8 + 8]
         |    AND a.doc_id < c.doc_id)
         |SELECT doc_a, doc_b, est_jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    round(list_sum(list_transform(generate_series(1, 64),
         |      i -> (sa[i] = sb[i])::int))::DOUBLE / 64, 6) AS est_jaccard
         |  FROM cand) z
         |WHERE est_jaccard >= 0.8""".stripMargin
    },

    "doc_novelty" ->
      s"""WITH $toksCte,
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t)-2),
         |    i -> ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT)) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, len(s) AS n_shingles FROM sh WHERE len(s) > 0),
         |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE len(s) > 0),
         |fs AS (SELECT shingle, MIN(doc_id) AS first_doc FROM ex GROUP BY 1),
         |nv AS (SELECT first_doc AS doc_id, count(*) AS novel_shingles FROM fs GROUP BY 1)
         |SELECT sizes.doc_id, n_shingles,
         |  coalesce(novel_shingles, 0) AS novel_shingles,
         |  round(coalesce(novel_shingles, 0)::double / n_shingles, 6) AS novelty
         |FROM sizes LEFT JOIN nv USING (doc_id)""".stripMargin,

    // Replays TextOps.docDupSpans: 40-char windows at stride 10 over the
    // normalized text, windows in >=2 distinct docs mark their ranges,
    // gaps-and-islands merge, per-doc span accounting.
    "doc_dup_spans" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |  FROM documents),
         |d AS (SELECT doc_id, norm, length(norm) AS len FROM n
         |      WHERE length(norm) >= 40),
         |win AS (
         |  SELECT doc_id, len, u.i AS start, substr(norm, u.i, 40) AS w
         |  FROM d, UNNEST(generate_series(1, len - 39, 10)) AS u(i)),
         |dup AS (SELECT w FROM win GROUP BY w
         |        HAVING count(DISTINCT doc_id) >= 2),
         |occ AS (SELECT win.doc_id, win.start FROM win JOIN dup USING (w)),
         |fl AS (
         |  SELECT doc_id, start,
         |    max(start + 40) OVER (PARTITION BY doc_id ORDER BY start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM occ),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev_end IS NULL OR start > prev_end
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
         |  FROM fl),
         |sp AS (
         |  SELECT doc_id, span_id, max(start + 40) - min(start) AS span_len
         |  FROM isl GROUP BY doc_id, span_id),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_dup_spans,
         |    sum(span_len)::BIGINT AS dup_chars
         |  FROM sp GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_dup_spans, 0) AS n_dup_spans,
         |  coalesce(dup_chars, 0) AS dup_chars,
         |  round(coalesce(dup_chars, 0)::DOUBLE / d.len, 6) AS dup_frac
         |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // Replays TextOps.docDupSpansIncremental: the incoming split's
    // windows semi-joined against the existing split's distinct keys,
    // then the same island merge — scored over incoming docs only.
    "doc_dup_spans_delta" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |  FROM documents),
         |d AS (SELECT doc_id, norm, length(norm) AS len FROM n
         |      WHERE length(norm) >= 40),
         |win AS (
         |  SELECT doc_id, len, u.i AS start, substr(norm, u.i, 40) AS w
         |  FROM d, UNNEST(generate_series(1, len - 39, 10)) AS u(i)),
         |exw AS (SELECT DISTINCT w FROM win WHERE doc_id % 10 <> 0),
         |occ AS (SELECT win.doc_id, win.start FROM win JOIN exw USING (w)
         |        WHERE win.doc_id % 10 = 0),
         |fl AS (
         |  SELECT doc_id, start,
         |    max(start + 40) OVER (PARTITION BY doc_id ORDER BY start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM occ),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev_end IS NULL OR start > prev_end
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
         |  FROM fl),
         |sp AS (
         |  SELECT doc_id, span_id, max(start + 40) - min(start) AS span_len
         |  FROM isl GROUP BY doc_id, span_id),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_dup_spans,
         |    sum(span_len)::BIGINT AS dup_chars
         |  FROM sp GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_dup_spans, 0) AS n_dup_spans,
         |  coalesce(dup_chars, 0) AS dup_chars,
         |  round(coalesce(dup_chars, 0)::DOUBLE / d.len, 6) AS dup_frac
         |FROM d LEFT JOIN agg USING (doc_id)
         |WHERE d.doc_id % 10 = 0""".stripMargin,

    // Replays TextOps.sourceOverlap via the naive distinct-(w,source)
    // self-join — identical matrix to the operator's row-local pair
    // expansion.
    "source_overlap" ->
      s"""WITH n AS (
         |  SELECT source,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |  FROM documents),
         |d AS (SELECT source, norm, length(norm) AS len FROM n
         |      WHERE length(norm) >= 40),
         |ws AS (
         |  SELECT DISTINCT source, substr(norm, u.i, 40) AS w
         |  FROM d, UNNEST(generate_series(1, len - 39, 10)) AS u(i))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS shared_windows
         |FROM ws a JOIN ws b ON a.w = b.w AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    // Replays TextOps.sourceEffectiveSize: the doc_dup_spans pipeline
    // rolled up to source grain over normalized char mass.
    "source_effective_size" ->
      s"""WITH n AS (
         |  SELECT doc_id, source,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |  FROM documents),
         |d AS (SELECT doc_id, source, norm, length(norm) AS len FROM n
         |      WHERE length(norm) >= 40),
         |win AS (
         |  SELECT doc_id, len, u.i AS start, substr(norm, u.i, 40) AS w
         |  FROM d, UNNEST(generate_series(1, len - 39, 10)) AS u(i)),
         |dup AS (SELECT w FROM win GROUP BY w
         |        HAVING count(DISTINCT doc_id) >= 2),
         |occ AS (SELECT win.doc_id, win.start FROM win JOIN dup USING (w)),
         |fl AS (
         |  SELECT doc_id, start,
         |    max(start + 40) OVER (PARTITION BY doc_id ORDER BY start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM occ),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev_end IS NULL OR start > prev_end
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
         |  FROM fl),
         |sp AS (
         |  SELECT doc_id, span_id, max(start + 40) - min(start) AS span_len
         |  FROM isl GROUP BY doc_id, span_id),
         |agg AS (
         |  SELECT doc_id, sum(span_len)::BIGINT AS dup_chars
         |  FROM sp GROUP BY doc_id)
         |SELECT d.source, count(*) AS n_docs,
         |  sum(d.len)::BIGINT AS total_chars,
         |  sum(coalesce(dup_chars, 0))::BIGINT AS dup_chars,
         |  (sum(d.len) - sum(coalesce(dup_chars, 0)))::BIGINT AS effective_chars,
         |  round(sum(coalesce(dup_chars, 0))::DOUBLE / sum(d.len), 6) AS dup_rate
         |FROM d LEFT JOIN agg USING (doc_id)
         |GROUP BY d.source""".stripMargin,

    // Replays TextOps.docDupExcise: same window/dup machinery as
    // doc_dup_spans, but occurrences excise only in non-canonical docs
    // (min doc_id keeps the copy), the kept complement segments stitch
    // back in order, and the cleaned text is md5-fingerprinted.
    "doc_dup_excise" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |  FROM documents),
         |d AS (SELECT doc_id, norm, length(norm) AS len FROM n
         |      WHERE length(norm) >= 40),
         |win AS (
         |  SELECT doc_id, len, u.i AS start, substr(norm, u.i, 40) AS w
         |  FROM d, UNNEST(generate_series(1, len - 39, 10)) AS u(i)),
         |ks AS (SELECT w, count(DISTINCT doc_id) AS nd, min(doc_id) AS min_doc
         |       FROM win GROUP BY w),
         |occ AS (SELECT win.doc_id, win.start FROM win JOIN ks USING (w)
         |        WHERE ks.nd >= 2 AND win.doc_id <> ks.min_doc),
         |fl AS (
         |  SELECT doc_id, start,
         |    max(start + 40) OVER (PARTITION BY doc_id ORDER BY start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM occ),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev_end IS NULL OR start > prev_end
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
         |  FROM fl),
         |sp AS (
         |  SELECT doc_id, span_id, min(start) AS s, max(start + 40) AS e
         |  FROM isl GROUP BY doc_id, span_id),
         |gaps AS (
         |  SELECT doc_id,
         |    lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS seg_start,
         |    s - lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS seg_len
         |  FROM sp),
         |tails AS (
         |  SELECT sp.doc_id, max(e) AS seg_start,
         |    any_value(len) - max(e) + 1 AS seg_len
         |  FROM sp JOIN d USING (doc_id) GROUP BY sp.doc_id),
         |segs AS (SELECT * FROM gaps WHERE seg_len > 0
         |         UNION ALL SELECT * FROM tails WHERE seg_len > 0),
         |st AS (
         |  SELECT segs.doc_id,
         |    string_agg(substr(d.norm, seg_start, seg_len), ''
         |               ORDER BY seg_start) AS clean
         |  FROM segs JOIN d USING (doc_id) GROUP BY segs.doc_id),
         |cuts AS (
         |  SELECT doc_id, count(*) AS n_cuts,
         |    sum(e - s)::BIGINT AS removed_chars
         |  FROM sp GROUP BY doc_id),
         |aff AS (
         |  SELECT cuts.doc_id, n_cuts, removed_chars,
         |    coalesce(clean, '') AS clean
         |  FROM cuts LEFT JOIN st USING (doc_id))
         |SELECT d.doc_id, coalesce(n_cuts, 0) AS n_cuts,
         |  coalesce(removed_chars, 0) AS removed_chars,
         |  d.len - coalesce(removed_chars, 0) AS clean_len,
         |  md5(CASE WHEN aff.doc_id IS NOT NULL THEN aff.clean
         |           ELSE d.norm END) AS clean_md5
         |FROM d LEFT JOIN aff ON d.doc_id = aff.doc_id""".stripMargin,

    // Replays ExportOps.shardManifestBalanced: global (n_chars, doc_id)
    // rank dealt round-robin over 8 shards.
    "export_manifest_balanced" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        |  FROM documents)
        |SELECT (rn - 1) % 8 AS shard, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS n_chars_total,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM r GROUP BY 1""".stripMargin,

    // Replays ExportOps.shardManifest: the 31-bit LCG pseudo-shuffle
    // (injective on doc_id), shard = h mod 8, one manifest row per shard.
    "export_manifest" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    (doc_id * 1103515245 + 12345) % 2147483648 AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, n_chars, h, h % 8 AS shard FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS n_chars_total,
        |  arg_min(doc_id, h) AS first_doc, arg_max(doc_id, h) AS last_doc,
        |  sum(h)::BIGINT AS h_checksum
        |FROM sh GROUP BY shard""".stripMargin,

    "neardup_clusters" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |p AS (SELECT doc_a, doc_b FROM jacc_pairs WHERE jaccard >= 0.8),
         |eu AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |nodes AS (SELECT DISTINCT s AS id FROM eu),
         |reach AS (
         |  SELECT id AS s, id AS t FROM nodes
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN eu e ON r.t = e.s),
         |lab AS (SELECT s AS doc_id, MIN(t) AS cluster_id FROM reach GROUP BY 1),
         |csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
         |SELECT l.doc_id, l.cluster_id, z.cluster_size
         |FROM lab l JOIN csizes z USING (cluster_id)""".stripMargin,

    "neardup_cross" ->
      s"""WITH $toksCte,
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t)-2),
         |    i -> ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT)) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh WHERE len(s) > 0),
         |cex AS (SELECT doc_id, unnest(s) AS shingle FROM sh
         |        WHERE len(s) > 0 AND doc_id % 10 <> 0),
         |rex AS (SELECT doc_id, unnest(s) AS shingle FROM sh
         |        WHERE len(s) > 0 AND doc_id % 10 = 0),
         |rok AS (SELECT shingle FROM rex GROUP BY 1 HAVING count(*) <= 100),
         |rexr AS (SELECT rex.doc_id, rex.shingle FROM rex JOIN rok USING (shingle)),
         |sc AS (SELECT c.doc_id AS doc_id, r.doc_id AS ref_doc, count(*) AS shared
         |       FROM cex c JOIN rexr r USING (shingle) GROUP BY 1, 2)
         |SELECT sc.doc_id, sc.ref_doc, sc.shared, sa.n_sh AS n_doc, sb.n_sh AS n_ref,
         |       round(shared::double / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
         |FROM sc JOIN sizes sa ON sc.doc_id = sa.doc_id
         |         JOIN sizes sb ON sc.ref_doc = sb.doc_id
         |WHERE round(shared::double / (sa.n_sh + sb.n_sh - shared), 6) >= 0.8""".stripMargin,

    "neardup_keep_best" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |p AS (SELECT doc_a, doc_b FROM jacc_pairs WHERE jaccard >= 0.8),
         |eu AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |nodes AS (SELECT DISTINCT s AS id FROM eu),
         |reach AS (
         |  SELECT id AS s, id AS t FROM nodes
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN eu e ON r.t = e.s),
         |lab AS (SELECT s AS doc_id, MIN(t) AS cluster_id FROM reach GROUP BY 1),
         |q AS (
         |  SELECT doc_id,
         |    round(((len(t) BETWEEN 20 AND 100000)::int
         |         + (round(len(list_filter(t, x -> x IN ${inList(graft.functions.TextFns.StopwordsEn)}))::double / len(t), 6) >= 0.001)::int
         |         + (round(len(regexp_extract_all(norm, '[^a-z0-9 ]'))::double / greatest(length(norm), 1), 6) <= 0.2)::int
         |         + (round(len(regexp_extract_all(norm, '[0-9]'))::double / greatest(length(norm), 1), 6) <= 0.3)::int)::double / 4, 6)
         |      AS quality_score
         |  FROM toks),
         |ranked AS (
         |  SELECT l.doc_id, l.cluster_id,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY q.quality_score DESC, l.doc_id) AS rn
         |  FROM lab l JOIN q USING (doc_id)),
         |losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
         |SELECT d.doc_id, d.lang, d.source, q.quality_score
         |FROM documents d JOIN q USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,

    "doc_sample" ->
      """SELECT doc_id, lang, source,
        |  ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT % 100 AS sample_bucket
        |FROM documents
        |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT % 100
        |  < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 ELSE 10 END""".stripMargin,

    "vocab_topk" ->
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS token FROM toks)
         |SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
         |FROM ex GROUP BY 1
         |ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin,

    "doc_top_terms" ->
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM ex) GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_total FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         |    round(tf.tf * ln((n.n_total + 1)::DOUBLE / (dfreq.df + 1)), 6) AS tfidf
         |  FROM tf JOIN dfreq USING (token), n)
         |SELECT doc_id, token, tf, df, tfidf, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, token) AS rn FROM scored)
         |WHERE rn <= 5""".stripMargin,

    "neardup_keep" ->
      s"""WITH $jaccardPairsCtes
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_b FROM jacc_pairs WHERE jaccard >= 0.8)""".stripMargin,

    "doc_winnow" ->
      s"""WITH $winnowCtes
         |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin,

    // the incremental result must equal the batch recompute restricted to
    // pairs touching the incoming split (doc_id % 10 = 0)
    "neardup_incremental" ->
      s"""WITH $jaccardPairsCtes
         |SELECT doc_a, doc_b, shared, n_a, n_b, jaccard FROM jacc_pairs
         |WHERE jaccard >= 0.8 AND (doc_a % 10 = 0 OR doc_b % 10 = 0)""".stripMargin,

    // the indexed arm is bit-identical to the inline one by
    // construction (shared posting-cap algebra + pair-emit tail) — one
    // oracle covers both
    "neardup_jaccard_delta_indexed" ->
      s"""WITH $jaccardPairsCtes
         |SELECT doc_a, doc_b, shared, n_a, n_b, jaccard FROM jacc_pairs
         |WHERE jaccard >= 0.8 AND (doc_a % 10 = 0 OR doc_b % 10 = 0)""".stripMargin,

    "neardup_pagerank" -> {
      // the same unrolled rounds the Spark side runs; damping 0.75 and
      // teleport 0.25 are exact in binary and decimal, so both engines
      // hold identical constants however the literal is parsed
      val rounds = (1 to 5).map(t =>
        s"""r$t AS (
           |  SELECT e.dst AS id, 0.25 + 0.75 * sum(r.rank / d.deg) AS rank
           |  FROM r${t - 1} r JOIN deg d ON r.id = d.id JOIN edges e ON r.id = e.src
           |  GROUP BY 1)""".stripMargin).mkString(",\n")
      s"""WITH $jaccardPairsCtes,
         |qp AS (SELECT doc_a, doc_b FROM jacc_pairs WHERE jaccard >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM qp
         |          UNION ALL SELECT doc_b, doc_a FROM qp),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT id, 1.0 AS rank FROM deg),
         |$rounds
         |SELECT id AS doc_id, round(rank, 6) AS rank FROM r5""".stripMargin
    },

    "neardup_graph_stats" ->
      s"""WITH $jaccardPairsCtes,
         |p AS (SELECT doc_a, doc_b FROM jacc_pairs WHERE jaccard >= 0.8),
         |ends AS (SELECT doc_a AS id FROM p UNION ALL SELECT doc_b FROM p),
         |deg AS (SELECT id, count(*) AS deg FROM ends GROUP BY 1)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |       (SELECT count(*) FROM p) AS n_edges,
         |       (SELECT max(deg) FROM deg) AS max_degree,
         |       (SELECT count(*)
         |        FROM p e1 JOIN p e2 ON e1.doc_b = e2.doc_a
         |        JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
         |         AS n_triangles""".stripMargin,

    "vocab_collocations" ->
      s"""WITH $toksCte,
         |u AS (SELECT unnest(t) AS w FROM toks),
         |uc AS (SELECT w, count(*) AS cu FROM u GROUP BY 1),
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |         i -> [t[i], t[i+1]])) AS p
         |       FROM toks WHERE len(t) >= 2),
         |bc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS cnt_b FROM bg GROUP BY 1, 2),
         |tot AS (SELECT (SELECT count(*) FROM u) AS t_uni,
         |               (SELECT count(*) FROM bg) AS t_bi)
         |SELECT w1, w2, cnt_b,
         |  round((cnt_b::DOUBLE * t_uni * t_uni)
         |        / (t_bi::DOUBLE * u1.cu * u2.cu), 6) AS lift
         |FROM bc, tot
         |JOIN uc u1 ON bc.w1 = u1.w
         |JOIN uc u2 ON bc.w2 = u2.w
         |WHERE cnt_b >= 5
         |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,

    "doc_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, length(text) AS n_chars_raw,
        |    trim(regexp_replace(regexp_replace(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id, n_chars_raw, length(cleaned) AS n_chars_clean,
        |  md5(cleaned) AS clean_md5,
        |  round((n_chars_raw - length(cleaned))::DOUBLE
        |        / greatest(n_chars_raw, 1), 6) AS shrinkage
        |FROM n""".stripMargin,

    "corpus_keep" -> corpusKeepSql,

    // fused text+vector curation: the corpus_keep verdict AND surviving
    // the embedding-side semantic dedup — one doc_id=vec_id join
    "corpus_keep_semantic" ->
      s"""WITH ${duckKmeansCte(8, 2)},
         |drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM asg2 a JOIN asg2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id
         |  JOIN emb eb ON eb.vec_id = b.vec_id
         |  WHERE round(${duckCosine("ea.v", "eb.v")}, 6) >= 0.45),
         |sem AS (SELECT vec_id FROM asg2
         |        WHERE vec_id NOT IN (SELECT vec_id FROM drops)),
         |tk AS ($corpusKeepSql)
         |SELECT tk.doc_id, tk.keep AS text_keep,
         |  CASE WHEN s.vec_id IS NULL THEN 0 ELSE 1 END AS semantic_ok,
         |  tk.keep * (CASE WHEN s.vec_id IS NULL THEN 0 ELSE 1 END) AS keep
         |FROM tk LEFT JOIN sem s ON tk.doc_id = s.vec_id""".stripMargin,

    "doc_sample_k" ->
      """WITH s AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, sample_rank FROM s WHERE sample_rank <= 20""".stripMargin,

    "pack_sequences" ->
      s"""WITH $toksCte,
         |tk AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    (sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING))::BIGINT
         |      - n_tokens AS strt
         |  FROM tk)
         |SELECT doc_id, n_tokens,
         |  strt // 2048 AS seq_id,
         |  strt % 2048 AS offset_in_seq,
         |  ((strt + n_tokens - 1) // 2048) - (strt // 2048) AS n_splits
         |FROM c""".stripMargin,

    "doc_chunks" ->
      s"""WITH $toksCte
         |SELECT doc_id, i AS chunk_ix, 1 + i*24 AS start_tok,
         |  len(t[1+i*24 : i*24+32]) AS n_chunk_tokens,
         |  md5(array_to_string(t[1+i*24 : i*24+32], ' ')) AS chunk_md5
         |FROM toks, UNNEST(range(0, (len(t)-1)//24 + 1)) AS u(i)""".stripMargin,

    // generator formulation must agree with the compositional one —
    // identical oracle text, so DuckDB pins both to the same rows
    "doc_chunks_gen" ->
      s"""WITH $toksCte
         |SELECT doc_id, i AS chunk_ix, 1 + i*24 AS start_tok,
         |  len(t[1+i*24 : i*24+32]) AS n_chunk_tokens,
         |  md5(array_to_string(t[1+i*24 : i*24+32], ' ')) AS chunk_md5
         |FROM toks, UNNEST(range(0, (len(t)-1)//24 + 1)) AS u(i)""".stripMargin,

    "corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, md5(text) AS fp_old,
        |    CAST(length(text) AS BIGINT) AS chars_old
        |  FROM documents WHERE doc_id % 10 <> 3),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END) AS fp_new,
        |    CAST(length(CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END) AS BIGINT) AS chars_new
        |  FROM documents WHERE doc_id % 10 <> 7)
        |SELECT CASE WHEN fp_old IS NULL THEN 'added'
        |            WHEN fp_new IS NULL THEN 'removed'
        |            WHEN fp_old = fp_new THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |  count(*) AS n_docs,
        |  CAST(sum(coalesce(chars_new, chars_old)) AS BIGINT) AS n_chars
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY 1 ORDER BY status""".stripMargin,

    "doc_pii" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}')) AS n_phones,
        |  len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        |  len(regexp_extract_all(text, '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}')) AS n_cards,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}', '<CARD>', 'g'),
        |    '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
        |FROM documents""".stripMargin,

    "vocab_bpe_pairs" ->
      """WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM words WHERE length(w) >= 2 GROUP BY w),
        |idx AS (SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc),
        |pairs AS (SELECT substr(w, CAST(i AS INT), 1) AS a,
        |                 substr(w, CAST(i AS INT)+1, 1) AS b, cnt FROM idx)
        |SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY a, b
        |ORDER BY pair_count DESC, a, b LIMIT 30""".stripMargin,

    "dup_passages" ->
      s"""WITH $toksCte,
         |ch AS (
         |  SELECT DISTINCT doc_id,
         |    md5(array_to_string(t[1+i*24 : i*24+32], ' ')) AS chunk_md5
         |  FROM toks, UNNEST(range(0, (len(t)-1)//24 + 1)) AS u(i)
         |  WHERE len(t[1+i*24 : i*24+32]) = 32)
         |SELECT chunk_md5, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
         |FROM ch GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,

    "corpus_mixture" ->
      s"""WITH $toksCte,
         |counts AS (
         |  SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(len(tk.t)) AS BIGINT) AS n_tokens
         |  FROM toks tk JOIN documents d USING (doc_id) GROUP BY 1),
         |wgt AS (SELECT lang, n_docs, n_tokens,
         |          CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10)) AS w
         |        FROM counts),
         |tot AS (SELECT SUM(w) AS wt FROM wgt)
         |SELECT lang, n_docs, n_tokens,
         |  round(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE), 6) AS mix_weight
         |FROM wgt, tot""".stripMargin,

    // bounds are injected from the SAME Scala cumulative fold the
    // operator computes (Double.toString round-trips), so both engines
    // compare u against bit-identical values whatever the weights are
    "doc_splits" -> {
      val ws = TextOps.DefaultSplitWeights
      val cum = ws.scanLeft(0.0)(_ + _._2).tail.map(_ / ws.map(_._2).sum)
      val cases = ws.zip(cum).init
        .map { case ((n, _), b) => s"WHEN u < $b THEN '$n'" }.mkString(" ")
      s"""SELECT doc_id, lang, CASE $cases ELSE '${ws.last._1}' END AS split
         |FROM (SELECT doc_id, lang,
         |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |          / 1152921504606846976.0 AS u
         |      FROM documents)""".stripMargin
    },

    // Replays TextOps.splitAssignClusterAware: recursive-CTE connected
    // components over the jaccard pairs, min-member cluster id as the
    // split key (own id for isolated docs), then the md5 split CASE.
    "doc_splits_clustered" -> {
      val ws = TextOps.DefaultSplitWeights
      val cum = ws.scanLeft(0.0)(_ + _._2).tail.map(_ / ws.map(_._2).sum)
      val cases = ws.zip(cum).init
        .map { case ((n, _), b) => s"WHEN u < $b THEN '$n'" }.mkString(" ")
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |p AS (SELECT doc_a, doc_b FROM jacc_pairs WHERE jaccard >= 0.8),
         |eu AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |nodes AS (SELECT DISTINCT s AS id FROM eu),
         |reach AS (
         |  SELECT id AS s, id AS t FROM nodes
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN eu e ON r.t = e.s),
         |lab AS (SELECT s AS doc_id, MIN(t) AS cluster_id FROM reach GROUP BY 1),
         |u0 AS (
         |  SELECT d.doc_id, d.lang,
         |    ('0x' || substr(md5(coalesce(lab.cluster_id, d.doc_id)::VARCHAR), 1, 15))::BIGINT
         |      / 1152921504606846976.0 AS u
         |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id)
         |SELECT doc_id, lang, CASE $cases ELSE '${ws.last._1}' END AS split
         |FROM u0""".stripMargin
    },

    // Replays TextOps.splitLeakage: the jaccard near-dup pairs joined to
    // the md5 split assignment, kept where the pair crosses splits.
    "split_leakage" -> {
      val ws = TextOps.DefaultSplitWeights
      val cum = ws.scanLeft(0.0)(_ + _._2).tail.map(_ / ws.map(_._2).sum)
      val cases = ws.zip(cum).init
        .map { case ((n, _), b) => s"WHEN u < $b THEN '$n'" }.mkString(" ")
      s"""WITH $jaccardPairsCtes,
         |spl AS (
         |  SELECT doc_id, CASE $cases ELSE '${ws.last._1}' END AS split
         |  FROM (SELECT doc_id,
         |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |            / 1152921504606846976.0 AS u
         |        FROM documents)),
         |x AS (
         |  SELECT p.jaccard, sa.split AS split_a, sb.split AS split_b
         |  FROM jacc_pairs p
         |  JOIN spl sa ON p.doc_a = sa.doc_id
         |  JOIN spl sb ON p.doc_b = sb.doc_id
         |  WHERE p.jaccard >= 0.8 AND sa.split <> sb.split)
         |SELECT least(split_a, split_b) AS split_lo,
         |  greatest(split_a, split_b) AS split_hi,
         |  count(*) AS n_leaked_pairs, max(jaccard) AS max_jaccard
         |FROM x GROUP BY 1, 2""".stripMargin
    },

    "doc_sample_weighted" ->
      s"""WITH $toksCte,
         |stats AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    round(len(list_filter(t, x -> x IN ${inList(graft.functions.TextFns.StopwordsEn)}))::double / len(t), 6) AS stopword_ratio,
         |    round(len(regexp_extract_all(norm, '[^a-z0-9 ]'))::double / greatest(length(norm), 1), 6) AS punct_ratio,
         |    round(len(regexp_extract_all(norm, '[0-9]'))::double / greatest(length(norm), 1), 6) AS digit_ratio
         |  FROM toks),
         |q AS (SELECT doc_id,
         |  round(((n_tokens BETWEEN 20 AND 100000)::int + (stopword_ratio >= 0.001)::int
         |       + (punct_ratio <= 0.2)::int + (digit_ratio <= 0.3)::int)::double / 4, 6) AS quality_score
         |  FROM stats),
         |drawn AS (SELECT doc_id, quality_score,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS DOUBLE)
         |    / 1152921504606846976.0::DOUBLE AS u
         |  FROM q)
         |SELECT doc_id, quality_score, u FROM drawn WHERE u < quality_score""".stripMargin,

    "doc_search_bm25" ->
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY 1),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ex
         |       WHERE token IN ('join', 'vector', 'stream') GROUP BY 1, 2),
         |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |    CAST((ln(1.0::DOUBLE + (stats.n_docs - dfreq.df + 0.5::DOUBLE) / (dfreq.df + 0.5::DOUBLE))
         |          * (tf.tf * (1.2::DOUBLE + 1)))
         |        / (tf.tf + 1.2::DOUBLE * ((1 - 0.75::DOUBLE)
         |             + 0.75::DOUBLE * dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs)))
         |      AS DECIMAL(28,12)) AS s
         |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms_matched,
         |  round(CAST(SUM(s) AS DOUBLE), 6) AS bm25
         |FROM sc GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "doc_search_hybrid" ->
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY 1),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ex
         |       WHERE token IN ('join', 'vector', 'stream') GROUP BY 1, 2),
         |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |    CAST((ln(1.0::DOUBLE + (stats.n_docs - dfreq.df + 0.5::DOUBLE) / (dfreq.df + 0.5::DOUBLE))
         |          * (tf.tf * (1.2::DOUBLE + 1)))
         |        / (tf.tf + 1.2::DOUBLE * ((1 - 0.75::DOUBLE)
         |             + 0.75::DOUBLE * dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs)))
         |      AS DECIMAL(28,12)) AS s
         |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
         |bm AS (SELECT doc_id, round(CAST(SUM(s) AS DOUBLE), 6) AS bm25
         |       FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
         |lex AS (SELECT doc_id,
         |          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex
         |        FROM bm),
         |emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |qq AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
         |semp AS (SELECT e.vec_id AS doc_id,
         |           round(${duckCosine("e.v", "qq.qv")}, 6) AS cos
         |         FROM emb e CROSS JOIN qq WHERE e.vec_id <> 0
         |         ORDER BY cos DESC, doc_id LIMIT 50),
         |sem AS (SELECT doc_id,
         |          CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rank_sem
         |        FROM semp)
         |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
         |  round(COALESCE(1.0::DOUBLE / (60 + rank_lex), 0)
         |      + COALESCE(1.0::DOUBLE / (60 + rank_sem), 0), 6) AS rrf
         |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "split_drift_psi" -> {
      // same CASE generation as doc_splits so the float bin bounds
      // (0.9000000000000001) stay bit-identical across the two oracles
      val ws = TextOps.DefaultSplitWeights
      val cum = ws.scanLeft(0.0)(_ + _._2).tail.map(_ / ws.map(_._2).sum)
      val cases = ws.zip(cum).init
        .map { case ((n, _), b) => s"WHEN u < $b THEN '$n'" }.mkString(" ")
      s"""WITH $toksCte,
         |q AS (
         |  SELECT doc_id,
         |    round(((len(t) BETWEEN 20 AND 100000)::int
         |         + (round(len(list_filter(t, x -> x IN ${inList(graft.functions.TextFns.StopwordsEn)}))::double / len(t), 6) >= 0.001)::int
         |         + (round(len(regexp_extract_all(norm, '[^a-z0-9 ]'))::double / greatest(length(norm), 1), 6) <= 0.2)::int
         |         + (round(len(regexp_extract_all(norm, '[0-9]'))::double / greatest(length(norm), 1), 6) <= 0.3)::int)::double / 4, 6)
         |      AS quality_score
         |  FROM toks),
         |sp AS (SELECT doc_id, CASE $cases ELSE '${ws.last._1}' END AS split
         |       FROM (SELECT doc_id,
         |               ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |                 / 1152921504606846976.0 AS u
         |             FROM documents)),
         |cnt AS (SELECT sp.split, q.quality_score, COUNT(*) AS c
         |        FROM sp JOIN q USING (doc_id) GROUP BY 1, 2),
         |bins AS (SELECT DISTINCT quality_score FROM cnt),
         |tot AS (SELECT split, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
         |kk AS (SELECT COUNT(*) AS k FROM bins),
         |grid AS (
         |  SELECT t.split, b.quality_score,
         |    (COALESCE(c.c, 0) + 0.5::DOUBLE) / (t.n + 0.5::DOUBLE * kk.k) AS p
         |  FROM tot t CROSS JOIN bins b
         |  LEFT JOIN cnt c ON c.split = t.split AND c.quality_score = b.quality_score
         |  CROSS JOIN kk),
         |tr AS (SELECT quality_score, p AS p_train FROM grid WHERE split = 'train')
         |SELECT g.split,
         |  round(CAST(SUM(CAST((g.p - tr.p_train) * ln(g.p / tr.p_train)
         |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi
         |FROM grid g JOIN tr USING (quality_score)
         |WHERE g.split <> 'train' GROUP BY 1""".stripMargin
    },

    "retrieval_eval_hashed" ->
      s"""WITH $toksCte,
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         |  GROUP BY 1, 2),
         |hh AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hk, tf
         |       FROM tf),
         |he AS (
         |  SELECT doc_id, (hk % 64)::int AS dim,
         |    sum(((hk >> 32) % 2 * 2 - 1) * tf)::BIGINT AS weight
         |  FROM hh GROUP BY 1, 2
         |  HAVING sum(((hk >> 32) % 2 * 2 - 1) * tf) <> 0),
         |norms AS (SELECT doc_id, sqrt(CAST(SUM(weight * weight) AS DOUBLE)) AS nrm
         |          FROM he GROUP BY 1),
         |qq AS (SELECT doc_id AS query_id, dim, weight AS qw FROM he WHERE doc_id < 10),
         |dots AS (
         |  SELECT q.query_id, c.doc_id, SUM(q.qw * c.weight) AS dot
         |  FROM qq q JOIN he c USING (dim) WHERE c.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS INT)
         |      AS rank
         |  FROM (SELECT d.query_id, d.doc_id,
         |          round(CAST(d.dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
         |        FROM dots d JOIN norms nq ON d.query_id = nq.doc_id
         |                    JOIN norms nc ON d.doc_id = nc.doc_id)),
         |qd AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |dpairs AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |         round(${duckCosine("qe", "c.embedding")}, 6) AS cos_sim
         |  FROM qd, embeddings c WHERE c.vec_id != query_id),
         |truth AS (
         |  SELECT query_id, neighbor_id AS doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id) AS rn FROM dpairs)
         |  WHERE rn <= 5),
         |tn AS (SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY 1),
         |hits AS (
         |  SELECT r.query_id, COUNT(*) AS h, MIN(r.rank) AS first_rank
         |  FROM ranked r JOIN truth USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY 1)
         |SELECT tn.query_id, tn.n_truth,
         |  COALESCE(h, 0) AS n_hits,
         |  round(COALESCE(h, 0)::DOUBLE / tn.n_truth, 6) AS recall_at_k,
         |  COALESCE(round(1.0::DOUBLE / first_rank, 6), 0.0) AS reciprocal_rank
         |FROM tn LEFT JOIN hits USING (query_id)""".stripMargin,

    "doc_quality_logreg" ->
      s"""WITH $toksCte,
         |${duckLogregCte(3, 0.5)}
         |SELECT doc_id, y, p_quality, (p_quality >= 0.5)::int AS label_pred
         |FROM (
         |  SELECT f.doc_id, f.y,
         |    round(1.0::DOUBLE / (1.0::DOUBLE
         |      + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4))), 6)
         |      AS p_quality
         |  FROM feat f CROSS JOIN w3 w)""".stripMargin,

    "doc_cross_entropy" ->
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
         |counts AS (SELECT token, COUNT(*) AS c FROM ex GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM counts),
         |sc AS (
         |  SELECT doc_id, tf,
         |    CAST(tf * -ln((c + 0.5::DOUBLE) / (t + 0.5::DOUBLE * v))
         |      AS DECIMAL(28,12)) AS nll
         |  FROM tf JOIN counts USING (token) CROSS JOIN tot)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6) AS cross_entropy
         |FROM sc GROUP BY 1""".stripMargin,

    "doc_bigram_entropy" ->
      s"""WITH $toksCte,
         |bi AS (
         |  SELECT doc_id, UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |btf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bi GROUP BY 1, 2, 3),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT w1, COUNT(*) AS c1
         |       FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
         |vv AS (SELECT COUNT(*) AS v FROM c1),
         |sc AS (
         |  SELECT doc_id, tf,
         |    CAST(tf * -ln((c2 + 0.5::DOUBLE) / (c1 + 0.5::DOUBLE * v))
         |      AS DECIMAL(28,12)) AS nll
         |  FROM btf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |  round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6) AS bigram_cross_entropy
         |FROM sc GROUP BY 1""".stripMargin,

    "doc_trigram_entropy" ->
      s"""WITH $toksCte,
         |tri AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         |  FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t)-2)) AS i
         |        FROM toks WHERE len(t) >= 3)),
         |bi AS (
         |  SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |ttf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM tri GROUP BY 1, 2, 3, 4),
         |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT w, COUNT(*) AS c1
         |       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
         |nv AS (SELECT COUNT(*) AS v, SUM(c1) AS n_tok FROM c1),
         |sc AS (
         |  SELECT ttf.doc_id, ttf.tf,
         |    CAST(ttf.tf * -ln(
         |      0.6::DOUBLE * ((c3.c3 + 0.5::DOUBLE) / (ctx.c2 + 0.5::DOUBLE * nv.v))
         |      + 0.3::DOUBLE * ((big.c2 + 0.5::DOUBLE) / (u2.c1 + 0.5::DOUBLE * nv.v))
         |      + 0.1::DOUBLE * ((u3.c1 + 0.5::DOUBLE) / (nv.n_tok + 0.5::DOUBLE * nv.v))
         |    ) AS DECIMAL(28,12)) AS nll
         |  FROM ttf
         |  JOIN c3 ON ttf.w1 = c3.w1 AND ttf.w2 = c3.w2 AND ttf.w3 = c3.w3
         |  JOIN c2 ctx ON ttf.w1 = ctx.w1 AND ttf.w2 = ctx.w2
         |  JOIN c2 big ON ttf.w2 = big.w1 AND ttf.w3 = big.w2
         |  JOIN c1 u2 ON ttf.w2 = u2.w
         |  JOIN c1 u3 ON ttf.w3 = u3.w
         |  CROSS JOIN nv)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
         |  round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6)
         |    AS trigram_cross_entropy
         |FROM sc GROUP BY 1""".stripMargin,

    "decontaminate" ->
      s"""WITH $toksCte,
         |sh5 AS (
         |  SELECT doc_id, CASE WHEN len(t) >= 5 THEN list_distinct(list_transform(
         |      generate_series(1, len(t)-4),
         |      i -> ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT))
         |    ELSE []::BIGINT[] END AS s
         |  FROM toks),
         |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh5 WHERE doc_id % 10 = 0),
         |corpus AS (SELECT * FROM sh5 WHERE doc_id % 10 <> 0),
         |coll AS (
         |  SELECT c.doc_id, count(*) AS n_collisions
         |  FROM (SELECT doc_id, unnest(s) AS shingle FROM corpus) c
         |  JOIN ev USING (shingle) GROUP BY 1)
         |SELECT corpus.doc_id, len(s) AS n_shingles,
         |  coalesce(n_collisions, 0) AS n_collisions,
         |  (coalesce(n_collisions, 0) >= 1)::int AS contaminated
         |FROM corpus LEFT JOIN coll USING (doc_id)""".stripMargin,

    "neardup_winnow" ->
      s"""WITH $winnowCtes,
         |ex AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         |rare AS (SELECT fp FROM ex GROUP BY 1 HAVING count(*) BETWEEN 2 AND 100),
         |exr AS (SELECT ex.doc_id, ex.fp FROM ex JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
         |FROM exr a JOIN exr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // Replays TextOps.nearDupWinnowIncremental: delta fingerprints vs
    // the existing split's df-capped postings.
    "neardup_winnow_delta" ->
      s"""WITH $winnowCtes,
         |ex AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         |idx AS (SELECT fp, doc_id AS ex_doc FROM ex WHERE doc_id % 10 <> 0),
         |okf AS (SELECT fp FROM idx GROUP BY 1 HAVING count(*) <= 100),
         |inx AS (SELECT doc_id, fp FROM ex WHERE doc_id % 10 = 0)
         |SELECT inx.doc_id, idx.ex_doc AS dup_of, count(*) AS shared_fps
         |FROM inx JOIN okf USING (fp) JOIN idx USING (fp)
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
  )
}
