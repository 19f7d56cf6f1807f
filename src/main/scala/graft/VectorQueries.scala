package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{TextOps, VectorOps}

/** the embedding/ANN surface over `embeddings`: similarity search, near-dup, clustering, the persisted vector index — the `Vector` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object VectorQueries {

  import SparkEntry.materializeAndClean
  import EntryOracleGen._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "doc_embed_hash" -> ((s, dir) => TextOps.docEmbedHash(Tables.documents(s, dir))),

    // -- similarity search over `embeddings`
    "ann_topk" -> ((s, dir) => VectorOps.annBruteForce(Tables.embeddings(s, dir))),

    "embedding_neardup" -> ((s, dir) => VectorOps.nearDupEmbedding(Tables.embeddings(s, dir))),

    "embedding_centroids" -> ((s, dir) => VectorOps.labelCentroids(Tables.embeddings(s, dir))),

    "embedding_clusters" -> ((s, dir) => VectorOps.kmeans(Tables.embeddings(s, dir))),

    "embedding_drift_psi" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.embeddingDriftPsi(
        emb.filter(col("vec_id") % 10 === 0), emb.filter(col("vec_id") % 10 =!= 0))
    }),

    "cluster_profiles" -> ((s, dir) => VectorOps.clusterProfiles(Tables.embeddings(s, dir))),

    "semantic_dedup_keep" -> ((s, dir) => VectorOps.semanticDedup(Tables.embeddings(s, dir))),

    // incremental dedup on the vector side: vec_id % 10 = 0 is the batch
    "embedding_neardup_delta" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      VectorOps.nearDupEmbeddingIncremental(
        e.filter(col("vec_id") % 10 =!= 0), e.filter(col("vec_id") % 10 === 0))
    }),

    // LSH-blocked all-pairs variant — fully oracled since r9 (plane
    // literals + count-derived width replay in DuckDB); VectorOpsSpec
    // additionally pins recall vs the exact pairs
    "embedding_neardup_lsh" -> ((s, dir) => VectorOps.nearDupEmbeddingLsh(Tables.embeddings(s, dir))),

    // LSH-blocked incremental arm — the default at scale; the exact
    // delta pass above is its cross-check. Fully oracled since r9.
    "embedding_neardup_delta_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      VectorOps.nearDupEmbeddingIncrementalLsh(
        e.filter(col("vec_id") % 10 =!= 0), e.filter(col("vec_id") % 10 === 0))
    }),

    // LSH path — fully oracled since r9 (banding replays in DuckDB);
    // VectorOpsSpec asserts recall vs the brute-force truth
    "ann_lsh" -> ((s, dir) => VectorOps.annLsh(Tables.embeddings(s, dir))),

    // IVF path: data-adaptive coarse quantizer on the kmeans-discipline
    // Lloyd trajectory — fully oracled since r9; VectorOpsSpec asserts
    // exact agreement with brute force at full probe
    "ann_ivf" -> ((s, dir) => VectorOps.annIvf(Tables.embeddings(s, dir))),

    // the PERSISTED-INDEX arm (r19): quantizer trained once on the base
    // corpus (vec_id % 10 != 0), the delta batch ABSORBED under the
    // frozen centroids (assign + append, no retrain), probes answered
    // from the cid-keyed cell store (file-pruned to the probed cells).
    // Build is the same deterministic Lloyd trajectory, so the whole
    // artifact replays in DuckDB — fully hash-oracled
    "ann_ivf_indexed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-vidx").toString
      val idx = new graft.incremental.VectorIndex(s, s"$scratch/state")
      idx.build(e.filter(col("vec_id") % 10 =!= 0))
      idx.absorb(e.filter(col("vec_id") % 10 === 0), tag = "delta-1")
      materializeAndClean(idx.probe(e.filter(col("vec_id") < 10)), scratch)
    }),

    // persisted-postings twin of embedding_neardup_delta_lsh: geometry
    // frozen at build from the BASE count, the batch bands itself and
    // meets the stored postings in one packed-key equi-join — per-batch
    // work corpus-size-flat. Fully hash-oracled (the oracle replays the
    // base-count sizing)
    "embedding_neardup_delta_indexed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-vidxl").toString
      val idx = new graft.incremental.VectorIndex(s, s"$scratch/state",
        withLsh = true)
      idx.build(e.filter(col("vec_id") % 10 =!= 0))
      materializeAndClean(
        idx.probeNearDup(e.filter(col("vec_id") % 10 === 0)), scratch)
    }),

    // PQ path: asymmetric-distance over trained codebooks — rows-only;
    // VectorOpsSpec pins rerank=∞ ≡ brute force and recall at the budget
    "ann_pq" -> ((s, dir) => VectorOps.annPq(Tables.embeddings(s, dir))),

    // SQ path: int8 scalar quantization — the ONE approximate arm whose
    // whole pipeline is IEEE-deterministic, so it hash-matches an oracle
    "ann_sq" -> ((s, dir) => VectorOps.annSq(Tables.embeddings(s, dir))),

    // hard-negative mining off LSH candidates — rows-only (bucket recall
    // probabilistic); VectorOpsSpec pins vs the exact unblocked twin.
    // Thresholds follow THIS corpus's similarity scale: its planted
    // near-dups sit at cos ≈ 0.45–0.51 (the embedding_neardup
    // threshold), so positives = ≥ 0.45 and the hard-negative band
    // sits just below at [0.2, 0.4)
    "contrastive_triplets" -> ((s, dir) =>
      VectorOps.contrastiveTriplets(Tables.embeddings(s, dir),
        minPos = 0.45, negLo = 0.2, negHi = 0.4)),

    // kNN label propagation: vec_id%5==0 masked unlabeled, exact-cosine
    // 5-NN majority vote from the labeled rest
    "knn_label_prop" -> ((s, dir) =>
      VectorOps.knnLabelProp(Tables.embeddings(s, dir))),

    // Matryoshka trade study: recall@5 of 32/16-dim prefixes vs the
    // full-dim exact top-5
    "ann_dim_tradeoff" -> ((s, dir) =>
      VectorOps.annDimTradeoff(Tables.embeddings(s, dir))),

    // LSH-blocked twin — the large×large scale path (rows-only: bucket
    // recall probabilistic; VectorOpsSpec pins agreement vs exact arm)
    "knn_label_prop_lsh" -> ((s, dir) =>
      VectorOps.knnLabelPropLsh(Tables.embeddings(s, dir))),

    // large×large kNN join: every 7th vector queries the rest — fully
    // oracled since r9; VectorOpsSpec pins twins + recall
    "knn_join" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      VectorOps.knnJoinLsh(
        e.filter(col("vec_id") % 7 === 0), e.filter(col("vec_id") % 7 =!= 0))
    })
  )

  val oracles: Map[String, String] = Map(

    // Replays VectorOps.annDimTradeoff: per-dimension prefix cosines in
    // one pair sweep, chained ranks, recall vs the 64-dim truth.
    "ann_dim_tradeoff" -> {
      def pcos(d: Int) = {
        def dot(x: String, y: String) =
          s"list_reduce(list_transform(generate_series(1, $d), i -> $x[i]::DOUBLE * $y[i]::DOUBLE), (a, v) -> a + v)"
        s"round(${dot("qd", "vd")} / (sqrt(${dot("qd", "qd")}) * sqrt(${dot("vd", "vd")})), 6)"
      }
      s"""WITH p AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, vd AS qd FROM p WHERE vec_id < 10),
         |pairs AS (
         |  SELECT query_id, p.vec_id AS neighbor_id,
         |    ${pcos(64)} AS cos_64, ${pcos(32)} AS cos_32, ${pcos(16)} AS cos_16
         |  FROM q, p WHERE p.vec_id != query_id),
         |r AS (
         |  SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_64 DESC, neighbor_id) AS rn_64,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_32 DESC, neighbor_id) AS rn_32,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_16 DESC, neighbor_id) AS rn_16
         |  FROM pairs),
         |h AS (SELECT count(DISTINCT query_id) AS nq,
         |  sum(CASE WHEN rn_64 <= 5 AND rn_64 <= 5 THEN 1 ELSE 0 END) AS hit_64,
         |  sum(CASE WHEN rn_32 <= 5 AND rn_64 <= 5 THEN 1 ELSE 0 END) AS hit_32,
         |  sum(CASE WHEN rn_16 <= 5 AND rn_64 <= 5 THEN 1 ELSE 0 END) AS hit_16
         |  FROM r)
         |SELECT 64 AS dim, round(hit_64 / (5.0 * nq), 6) AS recall_at_k FROM h
         |UNION ALL SELECT 32, round(hit_32 / (5.0 * nq), 6) FROM h
         |UNION ALL SELECT 16, round(hit_16 / (5.0 * nq), 6) FROM h""".stripMargin
    },

    // Replays VectorOps.knnLabelProp: vec_id%5==0 masked unlabeled,
    // exact-cosine 5-NN from the labeled rest, majority vote (ties ->
    // smaller label), mean neighborhood similarity.
    "knn_label_prop" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |           FROM embeddings WHERE vec_id % 5 = 0),
         |pairs AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, c.label,
         |         round(${duckCosine("qe", "c.embedding")}, 6) AS cos_sim
         |  FROM q, embeddings c WHERE c.vec_id % 5 <> 0),
         |top AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM pairs)
         |  WHERE rn <= 5),
         |votes AS (SELECT query_id, label, count(*) AS votes
         |          FROM top GROUP BY 1, 2),
         |pick AS (SELECT query_id, label AS pred_label, votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, label) AS vr FROM votes)
         |  WHERE vr = 1),
         |sims AS (SELECT query_id, round(avg(cos_sim), 6) AS mean_sim
         |         FROM top GROUP BY 1)
         |SELECT query_id, pred_label, votes, mean_sim
         |FROM pick JOIN sims USING (query_id)""".stripMargin,

    "doc_embed_hash" ->
      s"""WITH $toksCte,
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         |  GROUP BY 1, 2),
         |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hk, tf
         |      FROM tf)
         |SELECT doc_id, (hk % 64)::int AS dim,
         |  sum(((hk >> 32) % 2 * 2 - 1) * tf)::BIGINT AS weight
         |FROM h GROUP BY 1, 2
         |HAVING sum(((hk >> 32) % 2 * 2 - 1) * tf) <> 0""".stripMargin,

    "embedding_clusters" ->
      s"""WITH ${duckKmeansCte(8, 2)}
         |SELECT vec_id, cid, sim FROM asg2""".stripMargin,

    "cluster_profiles" ->
      s"""WITH ${duckKmeansCte(8, 2)}
         |SELECT cid, count(*) AS n_vecs,
         |  round(CAST(SUM(CAST(sim AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
         |    AS mean_sim,
         |  min(sim) AS min_sim
         |FROM asg2 GROUP BY 1""".stripMargin,

    "semantic_dedup_keep" ->
      s"""WITH ${duckKmeansCte(8, 2)},
         |drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM asg2 a JOIN asg2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id
         |  JOIN emb eb ON eb.vec_id = b.vec_id
         |  WHERE round(${duckCosine("ea.v", "eb.v")}, 6) >= 0.45)
         |SELECT a.vec_id, a.cid FROM asg2 a
         |WHERE a.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin,

    "embedding_drift_psi" ->
      s"""WITH ${duckKmeansCte(8, 2, "(SELECT * FROM embeddings WHERE vec_id % 10 = 0)")},
         |cur AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 10 <> 0),
         |curscored AS (
         |  SELECT c.vec_id, s.cid, round(${duckCosine("c.v", "s.c")}, 6) + 0 AS sim
         |  FROM cur c, cents2 s),
         |curasg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cid) AS rn FROM curscored) WHERE rn = 1),
         |refocc AS (SELECT cid, COUNT(*) AS c FROM asg2 GROUP BY 1),
         |curocc AS (SELECT cid, COUNT(*) AS c FROM curasg GROUP BY 1),
         |bins AS (SELECT DISTINCT cid FROM (SELECT cid FROM refocc UNION SELECT cid FROM curocc)),
         |kk AS (SELECT COUNT(*) AS k FROM bins),
         |tr AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM refocc),
         |tc AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM curocc),
         |grid AS (
         |  SELECT b.cid,
         |    (COALESCE(r.c, 0) + 0.5::DOUBLE) / (tr.n + 0.5::DOUBLE * kk.k) AS pr,
         |    (COALESCE(u.c, 0) + 0.5::DOUBLE) / (tc.n + 0.5::DOUBLE * kk.k) AS pc
         |  FROM bins b
         |  LEFT JOIN refocc r ON b.cid = r.cid
         |  LEFT JOIN curocc u ON b.cid = u.cid
         |  CROSS JOIN kk CROSS JOIN tr CROSS JOIN tc)
         |SELECT
         |  round(CAST(SUM(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi,
         |  (SELECT n FROM tr) AS n_ref, (SELECT n FROM tc) AS n_cur
         |FROM grid""".stripMargin,

    "embedding_centroids" ->
      """WITH ex AS (
        |  SELECT label, UNNEST(embedding) AS x,
        |         UNNEST(generate_series(1, len(embedding))) AS i
        |  FROM embeddings)
        |SELECT label, i-1 AS dim,
        |  round(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6) AS mean_x,
        |  COUNT(*) AS n_vecs
        |FROM ex GROUP BY 1, 2""".stripMargin,

    "ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |pairs AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |         round(${duckCosine("qe", "c.embedding")}, 6) AS cos_sim
         |  FROM q, embeddings c WHERE c.vec_id != query_id)
         |SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM pairs)
         |WHERE rn <= 5""".stripMargin,

    // Replays VectorOps.annSq end-to-end: per-dim [min,max] grid, the
    // int8 code formula, midpoint reconstruction, asymmetric approx
    // cosine (left-to-right folds mirror Spark's `aggregate`), the
    // 50-candidate shortlist cut, and the exact re-rank — every step is
    // IEEE-deterministic, which is the point of the SQ arm.
    "ann_sq" ->
      s"""WITH p AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd
         |           FROM embeddings),
         |st AS (
         |  SELECT u.i AS dim, min(vd[u.i]) AS mn, max(vd[u.i]) AS mx
         |  FROM p, UNNEST(generate_series(1, 64)) AS u(i)
         |  GROUP BY 1),
         |g AS (SELECT list(mn ORDER BY dim) AS mna, list(mx ORDER BY dim) AS mxa FROM st),
         |c AS (
         |  SELECT vec_id, list_transform(generate_series(1, 64), i ->
         |    CASE WHEN mxa[i] = mna[i] THEN 0
         |         ELSE least(255, CAST(floor((vd[i] - mna[i]) / (mxa[i] - mna[i]) * 256) AS INT))
         |    END) AS codes
         |  FROM p, g),
         |dq AS (
         |  SELECT vec_id, list_transform(generate_series(1, 64), i ->
         |    mna[i] + (codes[i] + 0.5) * ((mxa[i] - mna[i]) / 256.0)) AS deq
         |  FROM c, g),
         |q AS (
         |  SELECT vec_id AS query_id, vd AS qd,
         |    sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vd[i] * vd[i]),
         |         (a, v) -> a + v)) AS qn
         |  FROM p WHERE vec_id < 10),
         |appr AS (
         |  SELECT q.query_id, dq.vec_id AS neighbor_id,
         |    round(list_reduce(list_transform(generate_series(1, 64),
         |            i -> q.qd[i] * dq.deq[i]), (a, v) -> a + v)
         |      / (q.qn * sqrt(list_reduce(list_transform(generate_series(1, 64),
         |            i -> dq.deq[i] * dq.deq[i]), (a, v) -> a + v))), 6) AS sq_sim
         |  FROM q, dq WHERE dq.vec_id != q.query_id),
         |shortl AS (
         |  SELECT query_id, neighbor_id, sq_sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sq_sim DESC, neighbor_id) AS arn FROM appr)
         |  WHERE arn <= 50),
         |exct AS (
         |  SELECT s.query_id, s.neighbor_id, s.sq_sim,
         |    round(${duckCosine("qe.embedding", "ne.embedding")}, 6) AS cos_sim
         |  FROM shortl s
         |  JOIN embeddings qe ON qe.vec_id = s.query_id
         |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id)
         |SELECT query_id, neighbor_id, sq_sim, cos_sim, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM exct)
         |WHERE rn <= 5""".stripMargin,

    "embedding_neardup" ->
      s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS ea FROM embeddings),
         |b AS (SELECT vec_id AS vec_b, embedding AS eb FROM embeddings),
         |pairs AS (
         |  SELECT vec_a, vec_b, round(${duckCosine("ea", "eb")}, 6) AS cos_sim
         |  FROM a JOIN b ON vec_a < vec_b)
         |SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.45""".stripMargin,

    "embedding_neardup_delta" ->
      s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS ea FROM embeddings),
         |b AS (SELECT vec_id AS vec_b, embedding AS eb FROM embeddings),
         |pairs AS (
         |  SELECT vec_a, vec_b, round(${duckCosine("ea", "eb")}, 6) AS cos_sim
         |  FROM a JOIN b ON vec_a < vec_b)
         |SELECT vec_a, vec_b, cos_sim FROM pairs
         |WHERE cos_sim >= 0.45 AND (vec_a % 10 = 0 OR vec_b % 10 = 0)""".stripMargin,

    // Full replay of the sign-LSH family (r9): bucket membership IS
    // portable after all — plane coefficients are deterministic
    // splitmix64 constants embedded as literals, VecDot's fold is
    // list_reduce, and the auto-sized bit width recomputes from
    // count(*) (see duckLshPlanes). Banding, candidate generation,
    // exact re-rank/threshold all replay bit-for-bit, so these four
    // graduate from rows-only to hash-matched.
    "ann_lsh" ->
      s"""WITH ${duckLshPlanes("SELECT count(*) FROM embeddings", 1)},
         |${duckLshBanded(4)},
         |q AS (SELECT vec_id AS query_id, t, b FROM bk WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |  FROM q JOIN bk c ON q.t = c.t AND q.b = c.b AND c.vec_id != q.query_id),
         |sc AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |         round(${duckCosine("qe.embedding", "ne.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
         |            JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
         |SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc)
         |WHERE rn <= 5""".stripMargin,

    "embedding_neardup_lsh" ->
      s"""WITH ${duckLshPlanesTables("SELECT count(*) FROM embeddings", 5, 0.45, 0.9)},
         |${duckLshBandedDyn()},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM pk a JOIN bk b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
         |sc AS (
         |  SELECT vec_a, vec_b, round(${duckCosine("ea.embedding", "eb.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings ea ON ea.vec_id = vec_a
         |            JOIN embeddings eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos_sim FROM sc WHERE cos_sim >= 0.45""".stripMargin,

    "embedding_neardup_delta_lsh" ->
      s"""WITH ${duckLshPlanesTables("SELECT count(*) FROM embeddings", 5, 0.45, 0.9)},
         |${duckLshBandedDyn()},
         |cand AS (
         |  SELECT DISTINCT least(i.vec_id, c.vec_id) AS vec_a,
         |         greatest(i.vec_id, c.vec_id) AS vec_b
         |  FROM pk i JOIN bk c ON i.t = c.t AND i.b = c.b AND i.vec_id != c.vec_id
         |  WHERE i.vec_id % 10 = 0),
         |sc AS (
         |  SELECT vec_a, vec_b, round(${duckCosine("ea.embedding", "eb.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings ea ON ea.vec_id = vec_a
         |            JOIN embeddings eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos_sim FROM sc WHERE cos_sim >= 0.45""".stripMargin,

    "knn_join" ->
      s"""WITH ${duckLshPlanesTables("SELECT count(*) FROM embeddings WHERE vec_id % 7 != 0", 5, 0.7, 0.8)},
         |${duckLshBandedDyn()},
         |cand AS (
         |  SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
         |  FROM pk l JOIN bk r ON l.t = r.t AND l.b = r.b
         |  WHERE l.vec_id % 7 = 0 AND r.vec_id % 7 != 0),
         |sc AS (
         |  SELECT left_id, right_id,
         |         round(${duckCosine("le.embedding", "re.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings le ON le.vec_id = left_id
         |            JOIN embeddings re ON re.vec_id = right_id)
         |SELECT left_id, right_id, cos_sim, "rank" FROM (
         |  SELECT *, row_number() OVER (PARTITION BY left_id
         |    ORDER BY cos_sim DESC, right_id) AS "rank" FROM sc)
         |WHERE "rank" <= 3""".stripMargin,

    // Replays VectorOps.annPq END-TO-END — codebook training (16 lowest
    // train-slice ids seed, one Lloyd step with 6dp-rounded argmin
    // distances and DECIMAL means), corpus encoding, the per-query
    // lookup-table ADC fold (left-to-right like the Spark `aggregate`),
    // the 6dp-rounded top-50 shortlist, and the exact cosine re-rank.
    // Every ranked quantity is rounded before ranking, so the whole
    // trajectory is engine-portable.
    "ann_pq" -> {
      def dot8(a: String, b: String) =
        s"list_reduce(list_transform(generate_series(1, 8), i -> ($a)[i] * ($b)[i]), (acc, x) -> acc + x)"
      def nsq(c: String) = dot8(c, c)
      def sl(v: String) = s"$v[cb.j*8 + 1 : cb.j*8 + 8]"
      def asgDist(v: String) =
        s"round(${nsq("cb.c")} - 2.0 * ${dot8(sl(v), "cb.c")}, 6)"
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |pn AS (
         |  SELECT vec_id, list_transform(v, x -> x::DOUBLE
         |    / sqrt(list_reduce(list_transform(generate_series(1, len(v)),
         |        i -> v[i]::DOUBLE * v[i]::DOUBLE), (acc, x) -> acc + x))) AS u
         |  FROM emb),
         |tr AS (SELECT * FROM pn WHERE vec_id % 4 = 0),
         |seeds AS (
         |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, u
         |  FROM (SELECT vec_id, u FROM tr ORDER BY vec_id LIMIT 16) s),
         |cb0 AS (
         |  SELECT jj.j, s.cid, s.u[jj.j*8 + 1 : jj.j*8 + 8] AS c
         |  FROM seeds s, UNNEST(generate_series(0, 7)) AS jj(j)),
         |asg0 AS (
         |  SELECT vec_id, j, cid, sv FROM (
         |    SELECT t.vec_id, cb.j, cb.cid, ${sl("t.u")} AS sv,
         |      row_number() OVER (PARTITION BY t.vec_id, cb.j
         |        ORDER BY ${asgDist("t.u")}, cb.cid) AS rn
         |    FROM tr t, cb0 cb) z
         |  WHERE rn = 1),
         |mx AS (
         |  SELECT j, cid, ii.i AS i,
         |    round(CAST(SUM(CAST(sv[ii.i] AS DECIMAL(20,10))) AS DOUBLE)
         |      / COUNT(*), 6) AS mval
         |  FROM asg0, UNNEST(generate_series(1, 8)) AS ii(i)
         |  GROUP BY j, cid, ii.i),
         |cb1 AS (
         |  SELECT cb0.j, cb0.cid, COALESCE(m.c, cb0.c) AS c
         |  FROM cb0 LEFT JOIN (
         |    SELECT j, cid, list(mval ORDER BY i) AS c FROM mx GROUP BY j, cid) m
         |    ON m.j = cb0.j AND m.cid = cb0.cid),
         |enc AS (
         |  SELECT vec_id, list(cid ORDER BY j) AS codes FROM (
         |    SELECT p.vec_id, cb.j, cb.cid,
         |      row_number() OVER (PARTITION BY p.vec_id, cb.j
         |        ORDER BY ${asgDist("p.u")}, cb.cid) AS rn
         |    FROM pn p, cb1 cb) z
         |  WHERE rn = 1 GROUP BY vec_id),
         |qt AS (
         |  SELECT vec_id AS query_id, list(tc ORDER BY j) AS qt FROM (
         |    SELECT p.vec_id, cb.j,
         |      list(${dot8(sl("p.u"), "cb.c")} ORDER BY cb.cid) AS tc
         |    FROM pn p, cb1 cb WHERE p.vec_id < 10
         |    GROUP BY p.vec_id, cb.j) z
         |  GROUP BY vec_id),
         |adc AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      j -> q.qt[j][e.codes[j] + 1]), (acc, x) -> acc + x), 6) AS pq_sim
         |  FROM qt q, enc e WHERE e.vec_id != q.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY pq_sim DESC, neighbor_id) AS rn FROM adc) z
         |  WHERE rn <= 50),
         |sc AS (
         |  SELECT s.query_id, s.neighbor_id,
         |         round(${duckCosine("qe.embedding", "ne.embedding")}, 6) AS cos_sim
         |  FROM short s JOIN embeddings qe ON qe.vec_id = s.query_id
         |               JOIN embeddings ne ON ne.vec_id = s.neighbor_id)
         |SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc) z
         |WHERE rn <= 5""".stripMargin
    },

    // Replays VectorOps.annIvf end-to-end: the kmeans-discipline
    // quantizer (md5 seeds, rounded-cosine argmax, DECIMAL Lloyd means
    // — the shared duckKmeansCte), nprobe nearest cells per query, and
    // the exact re-rank
    "ann_ivf" ->
      s"""WITH ${duckKmeansCte(16, 1)},
         |qc AS (
         |  SELECT e.vec_id AS query_id, s.cid,
         |         round(${duckCosine("e.v", "s.c")}, 6) + 0 AS csim
         |  FROM emb e, cents1 s WHERE e.vec_id < 10),
         |probe AS (
         |  SELECT query_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY csim DESC, cid) AS pr FROM qc)
         |  WHERE pr <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probe p JOIN asg1 a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |sc AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |         round(${duckCosine("qe.embedding", "ne.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
         |            JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
         |SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc)
         |WHERE rn <= 5""".stripMargin,

    // Replays the persisted IVF index end-to-end: quantizer trained on
    // the BASE corpus only (vec_id % 10 <> 0 — the build input), every
    // vector (base + absorbed delta) assigned to the FROZEN cents1,
    // probe + exact re-rank identical to ann_ivf's tail
    "ann_ivf_indexed" ->
      s"""WITH ${duckKmeansCte(16, 1,
             "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0)")},
         |av AS (SELECT vec_id, embedding AS v FROM embeddings),
         |ascored AS (
         |  SELECT e.vec_id, s.cid,
         |         round(${duckCosine("e.v", "s.c")}, 6) + 0 AS sim
         |  FROM av e, cents1 s),
         |aall AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1),
         |qc AS (
         |  SELECT e.vec_id AS query_id, s.cid,
         |         round(${duckCosine("e.v", "s.c")}, 6) + 0 AS csim
         |  FROM av e, cents1 s WHERE e.vec_id < 10),
         |probe AS (
         |  SELECT query_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY csim DESC, cid) AS pr FROM qc)
         |  WHERE pr <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probe p JOIN aall a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |sc AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |         round(${duckCosine("qe.embedding", "ne.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
         |            JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
         |SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc)
         |WHERE rn <= 5""".stripMargin,

    // The indexed near-dup twin: same banding/candidate/re-rank replay
    // as embedding_neardup_delta_lsh, but the geometry sizes from the
    // BASE count — the frozen-at-build contract the persisted postings
    // pin in their meta sidecar
    "embedding_neardup_delta_indexed" ->
      s"""WITH ${duckLshPlanesTables(
             "SELECT count(*) FROM embeddings WHERE vec_id % 10 <> 0", 5, 0.45, 0.9)},
         |${duckLshBandedDyn()},
         |cand AS (
         |  SELECT DISTINCT least(i.vec_id, c.vec_id) AS vec_a,
         |         greatest(i.vec_id, c.vec_id) AS vec_b
         |  FROM pk i JOIN bk c ON i.t = c.t AND i.b = c.b AND i.vec_id != c.vec_id
         |  WHERE i.vec_id % 10 = 0),
         |sc AS (
         |  SELECT vec_a, vec_b, round(${duckCosine("ea.embedding", "eb.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings ea ON ea.vec_id = vec_a
         |            JOIN embeddings eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos_sim FROM sc WHERE cos_sim >= 0.45""".stripMargin,

    // knnJoinLsh + the vote/argmax tail: votes are exact counts, the
    // argmax tie-breaks (votes desc, label asc), mean_sim replays the
    // same 6dp-rounded ratio of summed partials
    "knn_label_prop_lsh" ->
      s"""WITH ${duckLshPlanesTables("SELECT count(*) FROM embeddings WHERE vec_id % 5 != 0", 7, 0.7, 0.8)},
         |${duckLshBandedDyn()},
         |cand AS (
         |  SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
         |  FROM pk l JOIN bk r ON l.t = r.t AND l.b = r.b
         |  WHERE l.vec_id % 5 = 0 AND r.vec_id % 5 != 0),
         |sc AS (
         |  SELECT query_id, neighbor_id,
         |         round(${duckCosine("qe.embedding", "ne.embedding")}, 6) AS cos_sim
         |  FROM cand JOIN embeddings qe ON qe.vec_id = query_id
         |            JOIN embeddings ne ON ne.vec_id = neighbor_id),
         |topk AS (
         |  SELECT query_id, neighbor_id, cos_sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc)
         |  WHERE rn <= 5),
         |byl AS (
         |  SELECT query_id, e.label, COUNT(*) AS votes, SUM(cos_sim) AS sim_sum
         |  FROM topk JOIN embeddings e ON e.vec_id = neighbor_id
         |  GROUP BY 1, 2)
         |SELECT query_id, label AS pred_label, votes, mean_sim FROM (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, label) AS vr,
         |    round(SUM(sim_sum) OVER (PARTITION BY query_id)
         |      / SUM(votes) OVER (PARTITION BY query_id), 6) AS mean_sim
         |  FROM byl)
         |WHERE vr = 1""".stripMargin,

    // LSH-banded triplet mining: hardest positive = rank-1 by
    // (cos desc, cand_id) over the >= minPos slice (the Spark side's
    // min(struct(-cos, id)) argmax), negatives = top-2 of the band
    "contrastive_triplets" ->
      s"""WITH ${duckLshPlanesTables("SELECT count(*) FROM embeddings", 7, 0.3, 0.7)},
         |${duckLshBandedDyn()},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS cand_id
         |  FROM pk a JOIN bk b ON a.t = b.t AND a.b = b.b AND a.vec_id != b.vec_id),
         |scored AS (
         |  SELECT anchor_id, cand_id,
         |         round(${duckCosine("ae.embedding", "ce.embedding")}, 6) AS cos
         |  FROM cand JOIN embeddings ae ON ae.vec_id = anchor_id
         |            JOIN embeddings ce ON ce.vec_id = cand_id),
         |pos AS (
         |  SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cos DESC, cand_id) AS pr
         |    FROM scored WHERE cos >= 0.45)
         |  WHERE pr = 1),
         |neg AS (
         |  SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos, neg_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cos DESC, cand_id) AS neg_rank
         |    FROM scored WHERE cos >= 0.2 AND cos < 0.4)
         |  WHERE neg_rank <= 2)
         |SELECT pos.anchor_id, pos_id, pos_cos, neg_id, neg_cos, neg_rank
         |FROM pos JOIN neg ON pos.anchor_id = neg.anchor_id""".stripMargin
  )
}
