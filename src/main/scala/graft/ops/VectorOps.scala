package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecDot

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`).
  *
  * - [[annBruteForce]] — exact top-k for a query set: broadcast the
  *   (small) query side, stream all candidates once. The baseline and
  *   the recall oracle.
  * - [[annLsh]] — random-hyperplane LSH: one pass computes a packed
  *   sign-bucket per vector; candidates co-reside in a bucket (with
  *   multi-probe via several independent tables). Sublinear pair count,
  *   shuffle keyed on (table, bucket) — the 100 TB path.
  * - [[nearDupEmbedding]] — exact all-pairs cosine above a threshold
  *   (the embedding near-dup cross-check; the LSH variant is the scale
  *   path, same pattern as MinHash vs exact jaccard for text).
  *
  * All pairwise math runs on the codegen'd [[VecDot]]; per-vector norms
  * are computed once per side, never per pair. `cos = dot/(na*nb)` is
  * arithmetically identical to the per-pair formulation, so the DuckDB
  * oracles still match bit-for-bit.
  */
object VectorOps {

  /** Sentinel for the `planes` parameter of every sign-LSH operator in
    * this object: `planes <= 0` means AUTO — derive the bit width from a
    * count of the blocked side via [[sizedPlanes]]. Pass an explicit
    * positive value to pin the geometry (and skip the sizing count job). */
  val AutoPlanes: Int = 0

  /** The standard LSH occupancy rule, applied instead of merely
    * documented (the r8 soak measured why: candidate volume per table is
    * ≈ |L|·|R|/2^planes, so a FIXED bit width grows quadratically with
    * density — `knn_label_prop_lsh` hit ×13.5 wall at ×10 data on
    * `planes = 6`). Holding expected bucket occupancy at 2^slack gives
    * `planes = ceil(log2(n)) − slack`; each operator's `slack` is
    * calibrated so the auto value reproduces its former fixed default at
    * the sf0.1 corpus (n ≈ 2000 → ceil(log2) = 11), and from there the
    * width tracks the corpus. Clamped to [2, 24]: 2 keeps buckets
    * meaningful on tiny spec fixtures; 24 bounds the key space well
    * inside the packed-long representation. The sizing count is one
    * column-pruned scan — trivial next to the bucket join it protects,
    * and skippable entirely via an explicit `planes`. */
  private[graft] def sizedPlanes(n: Long, slack: Int): Int = {
    val lg = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(24, math.max(2, lg - slack))
  }

  /** Sentinel for `tables` in the near-dup LSH operators: `tables <= 0`
    * means AUTO — hold recall via [[sizedTables]] as [[sizedPlanes]]
    * narrows the buckets. */
  val AutoTables: Int = 0

  /** The companion dial to [[sizedPlanes]]: hash-table count that holds
    * pair recall ≈ `targetRecall` for pairs at cosine `targetCos` under
    * a `planes`-bit bucket. Per-table collision P = c^planes with
    * c = 1 − θ/π (random-hyperplane LSH), so
    * T = ln(1−R) / ln(1−c^planes) — the standard multi-table sizing.
    *
    * Auto-planes alone holds CANDIDATE volume ~linear, but recall at a
    * fixed threshold then decays ~c^Δplanes per table — the r9 soak
    * measured exactly that (0.49 → 0.12 at ×10 with tables fixed at 8).
    * Growing tables alongside restores the recall contract at total
    * work ~n^(1+ρ), ρ = ln(1/c_near)/ln(1/c_chance) ≈ 0.62 at cos 0.45
    * — the known LSH optimum for constant recall (Indyk–Motwani /
    * Charikar); no sublinear-recall-preserving alternative exists, so
    * the near-dup operators spend it and DOCUMENT it rather than let
    * the detector silently go deaf at scale. Floor 4 keeps tiny-fixture
    * recall ≈ 1; cap 64 bounds the banding explode. targetRecall = 0.46
    * reproduces the former fixed default (T = 8 at planes 6 / cos 0.45,
    * measured 0.493 recall at sf0.1). */
  private[graft] def sizedTables(planes: Int, targetCos: Double,
      targetRecall: Double = 0.46): Int = {
    val c = 1.0 - math.acos(targetCos) / math.Pi
    val perTable = math.pow(c, planes)
    val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-perTable))
    math.min(64, math.max(4, t.toInt))
  }

  /** The former near-dup default recall, kept as an EXPLICIT cheap mode:
    * a detector that misses half its true pairs is a diagnostic setting,
    * not a production default (r9 verdict finding #1). */
  val CheapRecall: Double = 0.46

  /** [[sizedTables]] for the MULTI-PROBE regime ([[bandedProbes]]):
    * probing every Hamming-1 neighbor of the query's bucket raises the
    * per-table collision probability from c^planes to
    * `P₁ = c^planes + planes·c^(planes−1)·(1−c)` (the pair may disagree
    * on at most ONE plane), so far fewer tables hold the same recall —
    * T = ln(1−R)/ln(1−P₁), the Lv et al. (VLDB'07) trade of probe count
    * for table count. This is what makes a PRODUCTION recall default
    * (0.9) affordable: at sf0.1 geometry (planes 6, cos 0.45) plain
    * tables need T = 30 for R = 0.9 and blow past the table cap by
    * ×10 data (T = 113 at planes 10 — recall silently broken); the
    * probed form needs T = 7 and T = 26 respectively, inside the cap,
    * so the contract HOLDS at soak scale. All-flips probing (rather
    * than margin-ranked q-probing) is chosen deliberately: its
    * collision probability is closed-form (sizing stays analytic) and
    * its bucket set is pure XOR arithmetic on the packed key — exactly
    * replayable in the DuckDB oracles, where margin ranking would drag
    * the per-plane dot margins into SQL. Cap 32 bounds the banding
    * explode (recall degrades gracefully past the cap — documented, not
    * silent: ~0.85 at 100× for the near-dup geometry). */
  private[graft] def sizedTablesMp(planes: Int, targetCos: Double,
      targetRecall: Double = 0.9, flips: Int = 1): Int = {
    val c = 1.0 - math.acos(targetCos) / math.Pi
    // P(collision | probe all Hamming-≤flips buckets) =
    // Σ_{j=0..flips} C(planes,j) · c^(planes−j) · (1−c)^j — the pair may
    // disagree on at most `flips` planes. flips=1 is the shipped Lv et
    // al. regime; flips=2 trades a C(planes,2) probe fan-out for ~3×
    // fewer tables (evaluated in graft.LshScale — see SOAK.md).
    def choose(nn: Int, kk: Int): Double =
      (0 until kk).map(i => (nn - i).toDouble / (i + 1)).product
    val perTable = math.min(0.999999,
      (0 to flips).map(j =>
        choose(planes, j) * math.pow(c, planes - j) * math.pow(1.0 - c, j)).sum)
    val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-perTable))
    math.min(32, math.max(2, t.toInt))
  }

  /** BUILD-side banding: one (t, bucket) row per table — the stored
    * half of every LSH join in this object. */
  private[graft] def bandedBase(p: DataFrame, idAs: String, tbl: Int, pln: Int,
      dims: Int): DataFrame = {
    // all per-table buckets from ONE kernel call (posexplode index =
    // table id) — value-identical to the former per-table
    // lshBucket-literal explode, minus its tables×planes×dims plan
    // literals (guide §4; see [[graft.functions.LshBuckets]])
    graft.functions.TextExprs.register(p.sparkSession)
    p.select(col("vec_id").as(idAs),
        posexplode(graft.functions.VecRank.lshBuckets(col("vd"), pln, dims, tbl))
          .as(Seq("t", "b")))
      .select(col(idAs), struct(col("t"), col("b")).as("tb"))
  }

  /** PROBE-side banding with Hamming-1 multi-probe: per table, the base
    * bucket PLUS every single-bit flip of it — `tbl × (pln + 1)` rows
    * per vector. Joined against [[bandedBase]], a pair collides when
    * its two bucket keys differ in ≤ 1 plane, the P₁ regime
    * [[sizedTablesMp]] sizes for. Buckets are computed ONCE per table
    * (first projection), then flipped with pure XOR — the flip fan-out
    * never re-evaluates the plane dot products. */
  private[graft] def bandedProbes(p: DataFrame, idAs: String, tbl: Int, pln: Int,
      dims: Int, flips: Int = 1): DataFrame = {
    graft.functions.TextExprs.register(p.sparkSession)
    val withB = p.select(
      col("vec_id").as(idAs),
      graft.functions.VecRank.lshBuckets(col("vd"), pln, dims, tbl).as("bs"))
    // XOR masks for every Hamming-≤flips neighbor of the base bucket:
    // identity, the pln single flips, and (flips = 2) the C(pln,2)
    // double flips — still pure bit arithmetic on the packed key, so
    // the fan-out never re-evaluates a plane dot product and the
    // bucket set stays exactly replayable in SQL oracles.
    val masks: Seq[Long] = Seq(0L) ++
      (0 until pln).map(i => 1L << i) ++
      (if (flips >= 2)
        for { i <- 0 until pln; j <- (i + 1) until pln } yield (1L << i) | (1L << j)
       else Nil)
    withB.select(
      col(idAs),
      explode(array((for { t <- 0 until tbl; m <- masks } yield {
        val base = element_at(col("bs"), t + 1)
        struct(lit(t).as("t"),
          (if (m == 0L) base else base.bitwiseXOR(lit(m))).as("b"))
      }): _*)).as("tb"))
  }

  /** (vec_id, vd: array<double>, nrm) — embedding widened once, norm
    * precomputed. */
  private[graft] def prepared(embeddings: DataFrame): DataFrame = {
    VecDot.register(embeddings.sparkSession)
    embeddings.select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("vd"),
      sqrt(VecDot(col("embedding"), col("embedding"))).as("nrm"))
  }

  /** [[graft.ops.Par.fanned]] over a [[prepared]] frame — applied ONLY
    * at the banding-heavy operators (per-row lshBucket × tables before
    * the first exchange), where the measured A/B wins: annLsh 2.2→1.3 s,
    * contrastive_triplets 4.0→2.2 s at sf0.1. A blanket fan in
    * [[prepared]] was measured and REVERTED: the light consumers
    * (kmeans assignment, drift occupancy, knn join probes) lost more to
    * the extra exchange + stages than the map parallelism returned
    * (cluster_profiles 0.95→1.85 s, embedding_drift_psi 1.14→1.73 s). */
  private def fannedPrepared(embeddings: DataFrame): DataFrame =
    Par.fanned(prepared(embeddings))

  /** Exact cosine top-k: queries = `vec_id < nQueries` (deterministic
    * sample), candidates = everything else. Cosine rounded to 6dp BEFORE
    * ranking so the rank order is reproducible across engines;
    * neighbor_id breaks ties. */
  def annBruteForce(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val p = prepared(embeddings)
    val q = p.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qd"), col("nrm").as("qn"))
    val pairs = broadcast(q).join(p, col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(VecDot(col("qd"), col("vd")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** LSH-bucketed ANN: `tables` independent hash tables of `planes`-bit
    * sign buckets; a candidate must share ≥1 bucket with the query.
    * Exact cosine + top-k within the candidate set. */
  def annLsh(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      planes: Int = AutoPlanes, tables: Int = 4, dims: Int = 64): DataFrame = {
    // Auto-sized from the candidate corpus (slack 1 ≈ 2 vectors/bucket/
    // table: queries are few, so buckets stay narrow and the per-query
    // candidate list ≈ tables × occupancy stays constant as N grows).
    val pln = if (planes > 0) planes else sizedPlanes(embeddings.count(), slack = 1)
    val p = fannedPrepared(embeddings)
    // The broadcast hints below bypass autoBroadcastJoinThreshold, and the
    // query side scales with the CALLER's nQueries — so hint only while the
    // broadcast stays trivially driver-safe (ids: nQueries×tables longs;
    // vectors: nQueries×dims doubles ≤ ~5 MB at the guard). Above the
    // guard, fall through to Catalyst's stats-based join selection.
    def hinted(df: DataFrame): DataFrame =
      if (nQueries.toLong * dims <= (10000L * 64)) broadcast(df) else df
    // Bucket membership carries IDS ONLY through the join — the wide
    // vector arrays would otherwise ride the shuffle once per (table,
    // bucket) candidate row. Vectors re-attach per unique pair afterwards
    // via two narrow hash joins against the prepared frame.
    val exploded = bandedBase(p, "vec_id", tables, pln, dims)
    val q = exploded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("tb"))
    val cand = hinted(q).join(exploded, Seq("tb"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val qv = p.select(col("vec_id").as("query_id"), col("vd").as("qd"), col("nrm").as("qn"))
    val nv = p.select(col("vec_id").as("neighbor_id"), col("vd"), col("nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .join(hinted(qv.filter(col("query_id") < nQueries)), Seq("query_id"))
      .join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VecDot(col("qd"), col("vd")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into cells; a query probes only its `nprobe`
    * nearest cells and re-ranks those candidates exactly.
    *
    * Build: the [[kmeans]] trajectory at `nlist` cells — md5-ranked
    * deterministic seeds refined by `iters` engine-portable Lloyd steps
    * (6dp-rounded-cosine argmax assignment, DECIMAL-exact dimension
    * sums; see the in-body comment for why raw-double means are a
    * correctness bug at cluster scale). The quantizer itself
    * (nlist × dims doubles) is collected to
    * the driver and inlined as plan literals — it is the one structure
    * IVF *requires* to be globally shared, and at any corpus scale it
    * stays KB-sized while the corpus-side work remains fully distributed:
    * one scan to assign cells, one shuffle keyed on cell id to join
    * probes to candidates.
    *
    * vs [[annLsh]]: LSH needs no training pass and its buckets are
    * data-independent; IVF adapts cells to the data distribution, so at
    * equal candidate budget it probes fewer, denser cells — the standard
    * trade (FAISS-style IVF-Flat, data-adaptive; LSH, oblivious).
    * Fully oracled since r9 (the decimal Lloyd trajectory replays in
    * DuckDB like [[kmeans]]'s); VectorOpsSpec additionally asserts
    * recall against [[annBruteForce]] truth. */
  def annIvf(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 1): DataFrame = {
    // No .cache(): the prepared frame is rescanned a handful of times
    // (seed collect, Lloyd means, final assignment) but each pass is one
    // cheap columnar scan, and an uncached plan leaves no state pinned in
    // long-lived sessions (Verify/Bench run 40 queries in one JVM).
    val p = prepared(embeddings)

    // The quantizer trains on the SAME engine-portable Lloyd primitives
    // as [[kmeans]] (md5-ranked seeds, 6dp-rounded-cosine argmax with
    // ties to the lowest cid, DECIMAL(20,10) dimension sums): raw-double
    // means would make the centroids — and therefore borderline cell
    // assignments — depend on partial-aggregation order, i.e. on the
    // cluster's partitioning of the day. A 100 TB index whose cells
    // shift between identical runs is a broken artifact; the decimal
    // trajectory makes re-builds byte-stable AND lets the DuckDB oracle
    // replay quantizer, probe, and re-rank end to end (this query
    // graduated from rows-only exactly here).
    var cents = seedCentroids(p, nlist)
    for (_ <- 1 to iters)
      cents = centroidsFrom(lloydStats(
        p.withColumn("cid", bestCentroid(cents).getField("cid"))))

    val cells = p.withColumn("cid", bestCentroid(cents).getField("cid"))
    val cand = cells.select(
      col("vec_id").as("neighbor_id"), col("vd"), col("nrm"), col("cid"))
    val q = cells.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qd"), col("nrm").as("qn"),
        explode(transform(slice(centroidRank(cents), 1, nprobe), s => s.getField("cid")))
          .as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(q).join(cand, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VecDot(col("qd"), col("vd")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Product-quantization ANN (FAISS-style PQ-Flat with exact re-rank):
    * split each L2-normalized vector into `m` subspaces of `dims/m`
    * dims, train a per-subspace codebook of `ks` centroids (Lloyd, same
    * wide-aggregate means as [[annIvf]]), and encode every corpus
    * vector as `m` small codes — 64 float dims compress to 8 bytes, the
    * compression that lets a 100 TB corpus' index fit a cluster's RAM.
    *
    * Scoring is the REAL asymmetric-distance shape: each query row
    * precomputes its m×ks inner-product table ONCE (m·ks·sub mults),
    * then every (query, corpus) pair costs m table lookups —
    * `aggregate(zip_with(codes, qtable, ...))`, all codegen'd — instead
    * of a `dims`-mult dot product (8 adds vs 64 mults/pair here). The
    * top `rerank` approximate candidates per query then re-rank EXACTLY
    * against their true vectors; `rerank ≥ |corpus|` degrades to exact
    * brute force (the spec's equivalence check), and recall@k at the
    * default budget is asserted against [[annBruteForce]].
    *
    * The codebook (m×ks×sub doubles, KB-sized at any corpus scale) is
    * the one globally-shared structure — collected once and inlined as
    * plan literals, like the IVF quantizer. Codes never materialize to
    * storage here; a persisted index would write (vec_id, codes) —
    * 8 bytes a row — and skip the encode scan. */
  def annPq(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = 8, ks: Int = 16, iters: Int = 1, rerank: Int = 50,
      dims: Int = 64, trainMod: Int = 4): DataFrame = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    require(trainMod >= 1, s"trainMod=$trainMod must be >= 1")
    val sub = dims / m
    val p = prepared(embeddings)
    // PQ for cosine encodes UNIT vectors; queries use their exact form.
    // Fanned (plan no-op on a wide scan): every pn consumer is a heavy
    // per-row pass — the Lloyd assignment explode, the m×ks-fold corpus
    // encode, the ADC pair scoring — and all of them otherwise inherit
    // the single-row-group scan's 1-task layout (measured: the encode+
    // ADC stage ran 1.5–1.8 s single-threaded at sf0.1).
    val pn = Par.fanned(p).select(col("vec_id"),
      transform(col("vd"), x => x / col("nrm")).as("vdn"))
    def subvec(v: Column, j: Int) = slice(v, j * sub + 1, sub)
    // Codebooks train on a deterministic 1/trainMod corpus slice — the
    // standard practice (a few ×10⁴ vectors saturate ks-sized codebooks;
    // training on all of a 100 TB corpus buys nothing but a full extra
    // scan). Encoding still covers every vector.
    val train = pn.filter(col("vec_id") % trainMod === 0)

    // ---- train: codebook cb(j)(c), seeded from the ks lowest-id vectors
    var cb: Array[Array[Array[Double]]] = {
      val seeds = train.orderBy(col("vec_id")).limit(ks).select(col("vdn"))
        .collect().map(_.getSeq[Double](0).toArray)
      Array.tabulate(m)(j => seeds.map(v => v.slice(j * sub, (j + 1) * sub)))
    }
    // row-local nearest-centroid per subspace: argmin of
    // |c|² − 2·sv·c (the |sv|² term is constant per row — drops out).
    // The codebook rides as ONE 2-d literal per subspace and the argmin
    // is a fold over `sequence(0, ks-1)` — compact generated code (one
    // loop) instead of ks unrolled struct/dot-product copies, which at
    // m=8, ks=16 bloated every consumer plan's codegen unit ~16× and
    // taxed janino compile time and the JIT inlining budget alike.
    // Tie-break: strict `<` keeps the FIRST (lowest cid) — identical to
    // the previous array_sort-by-(d, cid) formulation. The distance is
    // 6dp-rounded BEFORE the comparison (the ranked-sim discipline every
    // operator in this file follows) so the argmin is engine-portable.
    def assignExpr(v: Column, j: Int): Column = {
      val cents = typedLit(cb(j).map(_.toSeq).toSeq)
      val norms = typedLit(cb(j).map(c => c.map(x => x * x).sum).toSeq)
      aggregate(
        sequence(lit(0), lit(ks - 1)),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("cid")),
        (acc, c) => {
          val d = round(element_at(norms, c + 1) -
            lit(2.0) * VecDot(subvec(v, j), element_at(cents, c + 1)), 6)
          when(d < acc.getField("d"),
            struct(d.as("d"), c.cast("int").as("cid"))).otherwise(acc)
        }).getField("cid")
    }
    for (_ <- 1 to iters) {
      val assigned = train.select(
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), assignExpr(col("vdn"), j).as("cid"),
            subvec(col("vdn"), j).as("sv"))): _*)).as("a"))
      // DECIMAL sums + half-up 6dp means — the kmeans/annIvf Lloyd
      // discipline: raw-double means would tie the codebook's low bits
      // (and therefore borderline code assignments) to partial-
      // aggregation order, i.e. to the cluster's partitioning of the
      // day. Byte-stable re-builds, and the DuckDB oracle can replay
      // the training pass.
      val sums = (0 until sub).map(i =>
        sum(element_at(col("a.sv"), i + 1).cast("decimal(20,10)")).as(s"s$i"))
      val means = assigned
        .groupBy(col("a.j").as("j"), col("a.cid").as("cid"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val next = cb.map(_.map(identity)) // cells with no members keep their centroid
      means.foreach { r =>
        val n = r.getLong(2).toDouble
        next(r.getInt(0))(r.getInt(1)) = Array.tabulate(sub)(i =>
          java.math.BigDecimal.valueOf(r.getDecimal(i + 3).doubleValue / n)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      }
      cb = next
    }

    // ---- encode corpus rows as m codes (row-local, from literals);
    // every vector is a candidate except the query itself (the
    // annBruteForce contract, so the rerank=∞ equivalence holds)
    val codes = array((0 until m).map(j => assignExpr(col("vdn"), j)): _*)
    val corpus = pn.select(col("vec_id").as("neighbor_id"), codes.as("codes"))
    // ---- per-query lookup tables: qtable(j)(c) = q_sub_j · cb(j)(c) —
    // same compaction as assignExpr: a transform over the codebook
    // literal, not m×ks unrolled dot products
    val qtable = array((0 until m).map { j =>
      val cents = typedLit(cb(j).map(_.toSeq).toSeq)
      transform(sequence(lit(0), lit(ks - 1)),
        c => VecDot(subvec(col("vdn"), j), element_at(cents, c + 1)))
    }: _*)
    val q = pn.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), qtable.as("qt"))
    // ---- ADC: m lookups per pair, top-`rerank` kept per query
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_sim").desc, col("neighbor_id"))
    val cand = broadcast(q).join(corpus, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        // 6dp-rounded before the rank so the shortlist cut is engine-
        // portable (neighbor_id breaks the now-possible ties)
        round(aggregate(zip_with(col("codes"), col("qt"),
          (c, tj) => element_at(tj, c + 1)), lit(0.0), (acc, x) => acc + x), 6)
          .as("pq_sim"))
      .withColumn("rn", row_number().over(wApprox)).filter(col("rn") <= rerank)
      .drop("rn", "pq_sim")
    // ---- exact re-rank of the surviving candidates
    val qv = p.select(col("vec_id").as("query_id"), col("vd").as("qd"),
      col("nrm").as("qn"))
    val nv = p.select(col("vec_id").as("neighbor_id"), col("vd"), col("nrm"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .join(broadcast(qv.filter(col("query_id") < nQueries)), Seq("query_id"))
      .join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VecDot(col("qd"), col("vd")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
  }

  /** Scalar-quantized (int8) ANN: every dimension linearly quantized to
    * an 8-bit code against the corpus' per-dimension [min, max] — the
    * index holds `dims` bytes per vector (4× smaller than float32, 8×
    * than float64), the memory/IO knob FAISS calls SQ8. Scoring is
    * asymmetric: the query keeps its exact vector; candidates score as
    * midpoint reconstructions `mn + (code + 0.5)·(mx − mn)/256`, one
    * multiply-add per dimension. The top `shortlist` approximate
    * candidates per query re-rank EXACTLY against their true vectors;
    * `shortlist ≥ |corpus|` degrades to exact brute force (the spec's
    * equivalence check).
    *
    * The quantization grid (2 × dims doubles, KB-sized at any corpus
    * scale) is the one globally-shared structure — collected from one
    * posexplode'd scan and inlined as plan literals, the same
    * discipline as the IVF/PQ codebooks; encoding and scoring stay
    * row-local up to the per-query top-k windows. Unlike LSH/IVF/PQ,
    * every step here (per-dim min/max, the code formula, the midpoint
    * reconstruction, the left-to-right fold) is IEEE-deterministic and
    * engine-portable, so the WHOLE pipeline — grid, codes, approximate
    * scores, shortlist cut, exact re-rank — replays bit-for-bit in the
    * DuckDB oracle: this ANN arm is hash-matched, not rows-only. */
  def annSq(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      shortlist: Int = 50, dims: Int = 64): DataFrame = {
    val p = prepared(embeddings)
    // one scan: per-dimension [min, max] over the corpus (min/max are
    // exact and order-insensitive — no DECIMAL discipline needed)
    val stats = p.select(posexplode(col("vd")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val mnArr = typedLit((0 until dims).map(d => stats(d)._1))
    val mxArr = typedLit((0 until dims).map(d => stats(d)._2))
    // code_d = clamp(floor((x − mn)/(mx − mn) · 256), 0..255); a
    // constant dimension (mx = mn) codes as 0 and reconstructs mid-cell
    def codeAt(v: Column, i: Column): Column = {
      val mn = element_at(mnArr, i + 1)
      val mx = element_at(mxArr, i + 1)
      when(mx === mn, lit(0)).otherwise(
        least(lit(255), floor((element_at(v, i + 1) - mn) / (mx - mn) * 256).cast("int")))
    }
    // Dequantized reconstruction + its norm are CANDIDATE-grain values:
    // computed here, once per corpus row, instead of inside the pair
    // join where the old aggregate() folds re-derived them per
    // (query, candidate) pair — nQueries× the fold work — AND ran
    // interpreted (LambdaFunction closures don't codegen). The pair
    // grain below is one codegen'd VecDot. quantize∘dequantize fuses
    // into ONE 64-step transform (code_i is a scalar inside the lambda,
    // so no intermediate codes array gets re-evaluated per element);
    // each element keeps the exact expression — cast(int)→double,
    // mid-cell offset, scale — and VecDot keeps the left-to-right
    // accumulation of the fold formulation, so every double — deq
    // values, norms, sq_sim — is bit-identical to it (and to the
    // oracle's list_reduce replay).
    val deq = transform(sequence(lit(0), lit(dims - 1)), i => {
      val mn = element_at(mnArr, i + 1)
      val mx = element_at(mxArr, i + 1)
      mn + (codeAt(col("vd"), i).cast("double") + lit(0.5)) * ((mx - mn) / lit(256.0))
    })
    // corpus side fanned (Par.fanned: plan no-op when the scan is
    // already wide): encode + pair scoring are the query's dominant
    // CPU and otherwise inherit the single-row-group scan's 1-task
    // layout — measured 1.7–2.1 s single-threaded at sf0.1. The norm
    // projects from the STORED deq column (attribute references, not
    // repeats of the transform: CollapseProject leaves non-cheap
    // aliases referenced more than once out-of-line).
    val corpus = Par.fanned(p).select(col("vec_id").as("neighbor_id"), deq.as("deq"))
      .select(col("neighbor_id"), col("deq"),
        sqrt(VecDot(col("deq"), col("deq"))).as("cnrm"))
    val q = p.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qd"), col("nrm").as("qn"))
    // approx cosine: exact-query · dequantized-candidate over the
    // DEQUANTIZED candidate norm — self-contained (the index never needs
    // the true vectors until re-rank).
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_sim").desc, col("neighbor_id"))
    val cand = broadcast(q).join(corpus, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VecDot(col("qd"), col("deq")) / (col("qn") * col("cnrm")), 6).as("sq_sim"))
      .withColumn("rn", row_number().over(wApprox)).filter(col("rn") <= shortlist)
      .select("query_id", "neighbor_id", "sq_sim")
    // exact re-rank of the surviving shortlist
    val nv = p.select(col("vec_id").as("neighbor_id"), col("vd"), col("nrm"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .join(broadcast(q), Seq("query_id"))
      .join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sq_sim"),
        round(VecDot(col("qd"), col("vd")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
  }

  /** Per-label embedding centroids: dimension-wise means via
    * `posexplode` + one (label, dim) grouped aggregation with map-side
    * combine — the distributed mean that never holds a vector-sized
    * buffer per group. Sums run in DECIMAL so partial-aggregation order
    * can't flip low bits (same discipline as the money aggregates);
    * the division happens once, on the exact sum. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        round(sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_x"),
        count(lit(1)).as("n_vecs"))

  /** Distributed k-means over the embedding corpus — the clustering step
    * LLM data curation builds on (SemDeDup-style pruning, cluster-
    * balanced sampling, topic discovery).
    *
    * Lloyd's algorithm with everything made ENGINE-PORTABLE so the whole
    * trajectory — not just the shape of the output — is pinned by the
    * DuckDB oracle:
    *  - seeds: the first `k` vectors by vec_id (deterministic, no RNG);
    *  - assignment: argmax of cosine ROUNDED to 6dp, ties to the lowest
    *    centroid id — rounding first means double noise can't flip an
    *    argmax across engines;
    *  - means: dimension-wise DECIMAL(20,10) sums (partial-aggregation
    *    order can't flip low bits), divided once, rounded to 6dp.
    *
    * Scale shape: centroids are a k×d KB-sized driver literal (same
    * discipline as [[annIvf]]'s quantizer); each iteration is one
    * corpus scan + one (cid, dim)-grouped aggregation with map-side
    * combine — never a vector-sized buffer per group, never a shuffle
    * of the corpus itself. Returns (vec_id, cid, sim). */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssigned(embeddings, k, iters)
      .select(col("vec_id"), col("cid"), col("sim"))

  /** [[kmeans]] keeping (vd, nrm) on the rows, for operators that go on
    * to do within-cluster pairwise work. */
  private def kmeansAssigned(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    // guard here, not downstream: k <= 0 would otherwise surface as a
    // garbled sequence(0, -1) planning error inside best()
    require(k >= 1, s"k=$k must be >= 1")
    require(iters >= 0, s"iters=$iters must be >= 0")
    val p = prepared(embeddings)
    // Seeds: first k by md5(vec_id) rank — deterministic (no RNG, the
    // DuckDB oracle replays it verbatim) but DECORRELATED from ingest
    // order. Seeding by raw vec_id order risks degenerate clusters at
    // real scale: adjacent ids are often near-duplicates (same crawl
    // batch, same source shard), so the first k vectors can all sit in
    // one region. The md5 rank is the same engine-portable uniformizer
    // the train/val/test splitter uses (TextOps.splitAssign); vec_id
    // tie-break keeps the order total.
    var cents = seedCentroids(p, k)
    for (_ <- 1 to iters)
      cents = centroidsFrom(lloydStats(
        p.withColumn("cid", bestCentroid(cents).getField("cid"))))
    // 0.0 - neg normalizes the sign so a sim that rounds to -0.0 prints
    // as 0.0 in both engines (the oracle adds + 0 for the same reason)
    p.withColumn("b", bestCentroid(cents))
      .withColumn("cid", col("b.cid"))
      .withColumn("sim", lit(0.0) - col("b.neg"))
      .drop("b")
  }

  /** The md5-ranked deterministic seed pick over a [[prepared]] frame —
    * shared by batch [[kmeans]] and the streaming centroid refresh so
    * both trajectories start identically. */
  private[graft] def seedCentroids(p: DataFrame, k: Int): Seq[(Int, Array[Double])] =
    p.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vd")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }

  /** struct(-roundedSim, cid) ascending-sorted over the centroid
    * literals — element 1 is the best (highest sim, lowest cid on
    * ties), a `slice` of the head is a nearest-cells probe list
    * ([[annIvf]]). One 2-d literal + a transform loop, not k unrolled
    * dot products — the codegen-compaction rule every centroid literal
    * in this file follows. Rounding the sim BEFORE ranking keeps the
    * order engine-portable. Requires `vd`/`nrm` columns (a [[prepared]]
    * frame). */
  private[graft] def centroidRank(cs: Seq[(Int, Array[Double])]): Column = {
    // ONE codegen'd kernel per row ([[graft.functions.CentroidRank]])
    // instead of the former array_sort∘transform∘struct HOF chain over
    // k VecDot literals — bit-identical output (same dots, same
    // round-then-negate, same (neg, cid) SQL ordering), no per-row
    // array/struct churn (guide §4). Measured 1.1–1.6× on the isolated
    // assignment (Profile kmeans-micro, 200k rows × 16 centroids:
    // 0.46–0.70 s → 0.42 s warm) — modest locally, but the allocation
    // pressure it removes grows with corpus size.
    graft.functions.TextExprs.register(
      org.apache.spark.sql.SparkSession.active)
    graft.functions.VecRank.centroidRank(col("vd"), col("nrm"), cs)
  }

  /** Head of [[centroidRank]]: the single best centroid. */
  private[graft] def bestCentroid(cs: Seq[(Int, Array[Double])]): Column =
    element_at(centroidRank(cs), 1)

  /** One Lloyd statistics pass over an assigned frame (`cid`, `vd`):
    * per-(cluster, dimension) EXACT DECIMAL sums + member counts —
    * k×d rows, KB-sized by construction. Kept as raw sums (not means)
    * so the streaming refresh can merge stats across micro-batches
    * exactly before dividing once. */
  private[graft] def lloydStats(assigned: DataFrame): Seq[(Int, Int, java.math.BigDecimal, Long)] =
    assigned
      .select(col("cid"), posexplode(col("vd")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("x").cast("decimal(20,10)")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDecimal(2), r.getLong(3))).toSeq

  /** Stats → centroids: dimension mean = round(double(sum)/n, 6) —
    * bit-identical to the previous in-plan
    * `round(sum(decimal).cast(double)/count, 6)` (Decimal.toDouble is
    * BigDecimal.doubleValue; Spark's round(double) is
    * BigDecimal.valueOf(…).setScale(6, HALF_UP)). Clusters with no
    * members drop out, exactly as the grouped aggregation dropped them. */
  private[graft] def centroidsFrom(
      stats: Seq[(Int, Int, java.math.BigDecimal, Long)]): Seq[(Int, Array[Double])] =
    stats.groupBy(_._1).map { case (cid, rows) =>
      val c = new Array[Double](rows.map(_._2).max + 1)
      rows.foreach { case (_, dim, s, n) =>
        c(dim) = java.math.BigDecimal.valueOf(s.doubleValue / n)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      (cid, c)
    }.toSeq.sortBy(_._1)

  /** Embedding drift between two corpus snapshots — the vector-space
    * twin of [[graft.ops.TextOps.splitDriftPsi]]: learn centroids on
    * the REFERENCE snapshot ([[kmeans]], deterministic), assign BOTH
    * snapshots to those fixed centroids, and PSI the cluster-occupancy
    * distributions. A new crawl that drifted semantically (topic shift,
    * new language mix, embedding-model change) moves mass between
    * clusters even when every lexical statistic looks flat — this is
    * the standard embedding-space drift alarm for RAG/retrieval
    * corpora. Same smoothing contract and bands as the other PSI ops.
    *
    * Scale shape: centroids are the usual KB driver literal; each
    * snapshot contributes ONE scan + a k-row occupancy aggregate; the
    * PSI computes over a 2k-cell literal grid. Returns one row
    * (psi, n_ref, n_cur). */
  def embeddingDriftPsi(reference: DataFrame, current: DataFrame,
      k: Int = 8, iters: Int = 2, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be > 0")
    val p = prepared(reference)
    var cents = seedCentroids(p, k)
    for (_ <- 1 to iters)
      cents = centroidsFrom(lloydStats(
        p.withColumn("cid", bestCentroid(cents).getField("cid"))))
    def occupancy(df: DataFrame): Map[Int, Long] =
      prepared(df).withColumn("cid", bestCentroid(cents).getField("cid"))
        .groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ro = occupancy(reference)
    val co = occupancy(current)
    val bins = (ro.keySet ++ co.keySet).toSeq.sorted
    val nr = ro.values.sum
    val nc = co.values.sum
    val spark = reference.sparkSession
    // PSI arithmetic stays IN the plan (over the literal grid) so the
    // DECIMAL sum + rounding mirror the DuckDB oracle bit for bit
    val grid = spark
      .createDataFrame(bins.map(b => (b, ro.getOrElse(b, 0L), co.getOrElse(b, 0L))))
      .toDF("cid", "c_ref", "c_cur")
    val pr = (col("c_ref") + lit(alpha)) / (lit(nr) + lit(alpha) * lit(bins.size))
    val pc = (col("c_cur") + lit(alpha)) / (lit(nc) + lit(alpha) * lit(bins.size))
    grid.select(((pc - pr) * log(pc / pr)).cast("decimal(28,12)").as("term"))
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
      .select(col("psi"), lit(nr).as("n_ref"), lit(nc).as("n_cur"))
  }

  /** Per-cluster profile over the [[kmeans]] assignment: size and
    * cohesion (mean / min similarity-to-centroid) — the triage view that
    * tells a curator which clusters are tight topics and which are
    * grab-bags. One k-row aggregation over the assignment; DECIMAL sim
    * sums so the mean is partial-aggregation-order exact. */
  def clusterProfiles(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    kmeans(embeddings, k, iters)
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("sim").cast("decimal(20,10)")).cast("double")
          / count(lit(1)), 6).as("mean_sim"),
        min(col("sim")).as("min_sim"))

  /** SemDeDup-style semantic dedup: cluster with [[kmeans]], then drop
    * any vector with a LOWER-id near-twin (cosine ≥ `minCos`) in the
    * SAME cluster. The pairwise join is blocked on cid — O(Σ cluster²)
    * instead of corpus², which is the point: `k` is the knob that keeps
    * per-cluster work bounded at 100 TB (cross-cluster near-twins are
    * the accepted recall loss, same contract as the LSH blockers).
    * Returns the kept rows (vec_id, cid). */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      minCos: Double = 0.45): DataFrame = {
    val asg = kmeansAssigned(embeddings, k, iters)
    val a = asg.select(col("cid"), col("vec_id").as("vec_a"),
      col("vd").as("da"), col("nrm").as("na"))
    val b = asg.select(col("cid"), col("vec_id").as("vec_b"),
      col("vd").as("db"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(VecDot(col("da"), col("db")) / (col("na") * col("nb")), 6)
        >= minCos)
      .select(col("vec_b").as("vec_id")).distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti").select(col("vec_id"), col("cid"))
  }

  /** Exact all-pairs near-dup: pairs with cosine ≥ `minCos`. Quadratic —
    * the cross-check for the LSH path, run on samples at scale. */
  def nearDupEmbedding(embeddings: DataFrame, minCos: Double = 0.45): DataFrame = {
    val p = prepared(embeddings)
    val a = p.select(col("vec_id").as("vec_a"), col("vd").as("da"), col("nrm").as("na"))
    val b = p.select(col("vec_id").as("vec_b"), col("vd").as("db"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VecDot(col("da"), col("db")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Incremental exact embedding near-dup: the [[nearDupEmbedding]]
    * pairs that TOUCH the `incoming` batch, via an incoming×corpus join
    * instead of corpus×corpus — work ∝ |incoming|·|corpus|, the
    * delta-proportional shape of daily-ingest embedding dedup (same
    * protocol as [[graft.ops.TextOps.nearDupJaccardIncremental]] on the
    * text side). Pair orientation normalizes to (min_id, max_id);
    * new×new pairs arise from both join orientations, hence the final
    * distinct. */
  def nearDupEmbeddingIncremental(existing: DataFrame, incoming: DataFrame,
      minCos: Double = 0.45): DataFrame = {
    val all = prepared(existing.unionByName(incoming))
    val inc = prepared(incoming)
      .select(col("vec_id").as("inc_id"), col("vd").as("di"), col("nrm").as("ni"))
    inc.join(all, col("vec_id") =!= col("inc_id"))
      .select(
        least(col("inc_id"), col("vec_id")).as("vec_a"),
        greatest(col("inc_id"), col("vec_id")).as("vec_b"),
        round(VecDot(col("di"), col("vd")) / (col("ni") * col("nrm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .distinct()
  }

  /** LSH-blocked incremental embedding near-dup — the 100 TB path for
    * [[nearDupEmbeddingIncremental]], and the DEFAULT arm for daily
    * ingest at scale (the exact incremental form stays as its
    * cross-check, exactly as [[nearDupEmbedding]] cross-checks
    * [[nearDupEmbeddingLsh]]). The unblocked incremental pass is
    * delta-proportional but still LINEAR IN CORPUS per batch — every
    * incoming vector scans every corpus vector. Here both the delta and
    * the corpus are bucketed by `tables` independent sign-hash tables
    * and meet in a shuffle equi-join on (table, bucket): per-batch work
    * collapses to Σ (delta-bucket × corpus-bucket) over near-collinear
    * groups. Candidate generation moves ids only; vectors re-attach per
    * unique pair; exact cosine decides membership (precision exact,
    * recall the standard multi-table LSH guarantee — VectorOpsSpec pins
    * it against the exact delta arm on planted twins). Pair orientation
    * normalizes to (min_id, max_id); new×new pairs arise from both join
    * orientations, hence the distinct on ids before vector fetch. */
  def nearDupEmbeddingIncrementalLsh(existing: DataFrame, incoming: DataFrame,
      minCos: Double = 0.45, planes: Int = AutoPlanes, tables: Int = AutoTables,
      dims: Int = 64, targetRecall: Double = 0.9, probeFlips: Int = 1): DataFrame = {
    // Auto-sized from the corpus side (existing ∪ incoming): slack 5 ≈
    // 32/bucket/table reproduces the former planes=6 at sf0.1 and keeps
    // per-delta-row candidate volume ≈ tables × occupancy as N grows;
    // tables track planes to hold PRODUCTION recall (0.9 default —
    // CheapRecall restores the former diagnostic setting) at minCos
    // under the multi-probe regime: the DELTA side probes all Hamming-1
    // buckets, the corpus side stores one row per table, so the big
    // side's banding shrinks ~4× vs plain tables at equal recall.
    // probeFlips = 2 is the regime built FOR this arm: the corpus side
    // stores tables × |corpus| banding rows, so cutting tables ~3× via
    // Hamming-2 probing shrinks the dominant cost while the C(planes,2)
    // probe fan-out rides the small delta side (graft.LshScale measures
    // the trade at ×10/×100).
    val pln =
      if (planes > 0) planes
      else sizedPlanes(existing.count() + incoming.count(), slack = 5)
    val tbl = if (tables > 0) tables
      else sizedTablesMp(pln, minCos, targetRecall, probeFlips)
    val all = fannedPrepared(existing.unionByName(incoming))
    val inc = prepared(incoming)
    val cand = bandedProbes(inc, "inc_id", tbl, pln, dims, probeFlips)
      .join(bandedBase(all, "cand_id", tbl, pln, dims), Seq("tb"))
      .filter(col("inc_id") =!= col("cand_id"))
      .select(
        least(col("inc_id"), col("cand_id")).as("vec_a"),
        greatest(col("inc_id"), col("cand_id")).as("vec_b"))
      .distinct()
    val va = all.select(col("vec_id").as("vec_a"), col("vd").as("da"), col("nrm").as("na"))
    val vb = all.select(col("vec_id").as("vec_b"), col("vd").as("db"), col("nrm").as("nb"))
    cand
      .join(va, Seq("vec_a"))
      .join(vb, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VecDot(col("da"), col("db")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** LSH-bucketed all-pairs near-dup — the 100 TB path for
    * [[nearDupEmbedding]]: a pair is only compared when it shares a sign
    * bucket in ≥1 of `tables` hash tables (same blocking as [[annLsh]],
    * applied corpus×corpus instead of query×corpus). Pairwise work
    * collapses from O(n²) to Σ bucket² over near-collinear groups; the
    * shuffle keys on (table, bucket). `planes` trades recall for bucket
    * size: P(bucket collision per table) = (1 − θ/π)^planes for angle θ.
    * Exact cosine still decides membership, so precision is exact; only
    * recall is approximate (VectorOpsSpec pins it on planted twins). */
  def nearDupEmbeddingLsh(embeddings: DataFrame, minCos: Double = 0.45,
      planes: Int = AutoPlanes, tables: Int = AutoTables, dims: Int = 64,
      targetRecall: Double = 0.9, probeFlips: Int = 1): DataFrame = {
    // Self-join: candidates ≈ N²/2^planes, so planes must track log2(N)
    // to keep them ≈ N × occupancy (slack 5 reproduces planes=6 at
    // sf0.1), and tables must track planes to hold the recall contract
    // at minCos. The default recall is PRODUCTION grade (0.9 — a dedup
    // detector that misses half its true pairs leaks duplicates at
    // exactly the scale this targets; pass targetRecall = CheapRecall
    // for the former diagnostic setting), affordable because the lower
    // side multi-probes Hamming-1 buckets — see [[sizedTablesMp]] for
    // why plain tables cannot hold 0.9 here (T = 113 at ×10, past any
    // sane cap) and the probed form can (T = 26).
    val pln = if (planes > 0) planes else sizedPlanes(embeddings.count(), slack = 5)
    val tbl = if (tables > 0) tables
      else sizedTablesMp(pln, minCos, targetRecall, probeFlips)
    val p = fannedPrepared(embeddings)
    // Same ids-only discipline as [[annLsh]]: the bucket joins and the
    // pair dedup move (vec_id, band) rows only; each UNIQUE candidate pair
    // then fetches its two vectors once. Shuffle volume drops from
    // O(candidates × dims) doubles to O(candidates) longs — at corpus
    // scale the candidate multiset (one row per shared table) is the
    // biggest intermediate this operator produces. Orientation: the
    // lower id probes, the higher id stores — each unordered pair is
    // tested exactly once under the ≤1-flipped-plane collision rule.
    val cand = bandedProbes(p, "vec_a", tbl, pln, dims, probeFlips).as("a")
      .join(bandedBase(p, "vec_b", tbl, pln, dims).as("b"),
        col("a.tb") === col("b.tb") && col("a.vec_a") < col("b.vec_b"))
      .select(col("a.vec_a").as("vec_a"), col("b.vec_b").as("vec_b"))
      .distinct()
    val va = p.select(col("vec_id").as("vec_a"), col("vd").as("da"), col("nrm").as("na"))
    val vb = p.select(col("vec_id").as("vec_b"), col("vd").as("db"), col("nrm").as("nb"))
    cand
      .join(va, Seq("vec_a"))
      .join(vb, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VecDot(col("da"), col("db")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Contrastive-triplet mining for embedding-model training: for every
    * anchor vector, the hardest POSITIVE (its highest-cosine neighbor at
    * `cos ≥ minPos`) paired with the `perAnchor` hardest NEGATIVES (the
    * highest cosines inside `[negLo, negHi)` — the near-misses triplet
    * and InfoNCE losses learn the most from; random negatives are
    * trivially separable). Anchors with no positive emit nothing.
    *
    * Candidates come from the same multi-table sign-LSH blocking as
    * [[annLsh]]/[[nearDupEmbeddingLsh]] (ids-only bucket joins, never
    * corpus²) with WIDER buckets (`planes` = 4) so the mid-cosine
    * negative band keeps recall — mining hard negatives from ANN
    * candidates rather than an exact sweep is exactly what production
    * retrieval-training pipelines (DPR-style) do at corpus scale. Exact
    * cosine then classifies every candidate, so precision of the band
    * membership is exact; only candidate recall is probabilistic →
    * rows-only driver check, with [[contrastiveTripletsExact]] as the
    * spec's unblocked truth (same policy as [[nearDupEmbedding]]).
    * The hardest-positive argmax is a hash-aggregable `min(struct)` —
    * no window sort; the negative top-`perAnchor` windows over the
    * bucket-bounded candidate set, never the corpus.
    * Returns (anchor_id, pos_id, pos_cos, neg_id, neg_cos, neg_rank). */
  def contrastiveTriplets(embeddings: DataFrame, minPos: Double = 0.8,
      negLo: Double = 0.3, negHi: Double = 0.6, perAnchor: Int = 2,
      planes: Int = AutoPlanes, tables: Int = AutoTables, dims: Int = 64,
      targetRecall: Double = 0.7): DataFrame = {
    // Wider buckets than the near-dup family (slack 7 ≈ 128/bucket/table,
    // reproducing the former planes=4 at sf0.1): the mid-cosine negative
    // band needs recall, and the width still tracks log2(N) so the
    // banded self-join stays ≈ N × occupancy instead of going quadratic.
    // Tables auto-size for the HARDEST member of the band — candidates
    // down at cos = negLo — under anchor-side multi-probe; the recall
    // target is softer than the dedup family's (hard-negative mining
    // tolerates misses; a dedup detector doesn't).
    val pln = if (planes > 0) planes else sizedPlanes(embeddings.count(), slack = 7)
    val tbl = if (tables > 0) tables else sizedTablesMp(pln, negLo, targetRecall)
    val p = fannedPrepared(embeddings)
    val cand = bandedProbes(p, "anchor_id", tbl, pln, dims).as("a")
      .join(bandedBase(p, "cand_id", tbl, pln, dims).as("b"),
        col("a.tb") === col("b.tb") && col("a.anchor_id") =!= col("b.cand_id"))
      .select(col("a.anchor_id").as("anchor_id"), col("b.cand_id").as("cand_id"))
      .distinct()
    tripletsFromCandidates(p, cand, minPos, negLo, negHi, perAnchor)
  }

  /** Exact unblocked twin of [[contrastiveTriplets]]: corpus² candidate
    * sweep — the spec's truth set and a cross-check only, never the
    * scale path. */
  private[graft] def contrastiveTripletsExact(embeddings: DataFrame,
      minPos: Double = 0.8, negLo: Double = 0.3, negHi: Double = 0.6,
      perAnchor: Int = 2): DataFrame = {
    val p = prepared(embeddings)
    val ids = p.select(col("vec_id"))
    val cand = ids.select(col("vec_id").as("anchor_id"))
      .crossJoin(ids.select(col("vec_id").as("cand_id")))
      .filter(col("anchor_id") =!= col("cand_id"))
    tripletsFromCandidates(p, cand, minPos, negLo, negHi, perAnchor)
  }

  private def tripletsFromCandidates(p: DataFrame, cand: DataFrame,
      minPos: Double, negLo: Double, negHi: Double, perAnchor: Int): DataFrame = {
    val av = p.select(col("vec_id").as("anchor_id"), col("vd").as("ad"),
      col("nrm").as("an"))
    val cv = p.select(col("vec_id").as("cand_id"), col("vd").as("cd"),
      col("nrm").as("cn"))
    // ONE scoring pass + ONE aggregation compute both branches. The
    // former pos-aggregation/neg-window formulation planned the scoring
    // subtree (a VecDot per candidate pair) under EACH branch — measured
    // at sf0.1 as two 16-task stages re-reading the candidate exchange
    // and re-doing 5M dot products apiece — then shuffled every band
    // row into a window sort and joined the branches back on anchor_id.
    // Here the positive is a conditional min(struct) and the negatives
    // ride the SAME groupBy as a bounded [[graft.functions.TopKWhere]]
    // top-k (map-side partials ship ≤ perAnchor rows per anchor per
    // task — the events_topk_agg scale shape), so the plan drops one
    // full scoring pass, the window sort, one exchange and the final
    // join. Values are identical: min(struct) is order-independent, the
    // TopK comparator (cos desc, cand_id asc) is exactly the window
    // order, and list position + 1 ≡ row_number; anchors lacking either
    // branch drop exactly as the inner join dropped them.
    val pick = udaf(graft.functions.TopK.negBandTopK(perAnchor))
    cand.join(av, Seq("anchor_id")).join(cv, Seq("cand_id"))
      .select(col("anchor_id"), col("cand_id"),
        round(VecDot(col("ad"), col("cd")) / (col("an") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= minPos ||
        (col("cos") >= negLo && col("cos") < negHi))
      .groupBy(col("anchor_id"))
      .agg(
        min(when(col("cos") >= minPos,
          struct((-col("cos")).as("nc"), col("cand_id").as("id")))).as("m"),
        pick(col("cos") >= negLo && col("cos") < negHi,
          col("cos"), col("cand_id")).as("negs"))
      .filter(col("m").isNotNull && size(col("negs")) > 0)
      .select(col("anchor_id"), col("m.id").as("pos_id"),
        (-col("m.nc")).as("pos_cos"), posexplode(col("negs")).as(Seq("i", "n")))
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("n.cand_id").as("neg_id"), col("n.cos").as("neg_cos"),
        (col("i") + 1).as("neg_rank"))
  }

  /** Truncated-dimension retrieval quality (the Matryoshka trade study):
    * recall@k of prefix-sliced embeddings (e.g. 32 and 16 of 64 dims)
    * against the full-dimension exact top-k — the measurement that
    * decides whether a pipeline can serve ANN from a truncated index at
    * a fraction of the memory. ONE pair pass computes every dimension's
    * cosine (slices of the same widened array); the per-dimension ranks
    * are CHAINED windows over that single subtree, so the plan scans the
    * pairs once however many dims are studied; recall folds into one
    * aggregate and unpivots via stack(). Fully IEEE-deterministic
    * (6dp-rounded ranking, id tie-breaks) — the DuckDB oracle replays
    * the whole study. */
  def annDimTradeoff(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      dims: Seq[Int] = Seq(64, 32, 16)): DataFrame = {
    val p = prepared(embeddings)
    val full = dims.max
    val q = p.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qd"))
    def cosAt(d: Int): Column = {
      val (a, b) =
        if (d == full) (col("qd"), col("vd"))
        else (slice(col("qd"), 1, d), slice(col("vd"), 1, d))
      round(VecDot(a, b) / (sqrt(VecDot(a, a)) * sqrt(VecDot(b, b))), 6)
    }
    val pairs = broadcast(q).join(p, col("vec_id") =!= col("query_id"))
      .select(col("query_id") +: col("vec_id").as("neighbor_id") +:
        dims.map(d => cosAt(d).as(s"cos_$d")): _*)
    val ranked = dims.foldLeft(pairs) { (df, d) =>
      df.withColumn(s"rn_$d", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col(s"cos_$d").desc, col("neighbor_id"))))
    }
    val hits = ranked.agg(
      count_distinct(col("query_id")).as("nq"),
      dims.map(d => sum((col(s"rn_$d") <= k && col(s"rn_$full") <= k).cast("long"))
        .as(s"hit_$d")): _*)
    val stackArgs = dims.map(d =>
      s"$d, round(hit_$d / CAST($k * nq AS DOUBLE), 6)").mkString(", ")
    hits.selectExpr(s"stack(${dims.size}, $stackArgs) AS (dim, recall_at_k)")
  }

  /** Embedding kNN label propagation (semi-supervised labeling): vectors
    * with `vec_id % maskMod == 0` are treated as UNLABELED; each receives
    * the majority label of its k nearest labeled neighbors by exact
    * cosine (vote ties → smaller label), plus the winning vote count and
    * the mean similarity of the k-neighborhood. The exact arm broadcasts
    * the (1/maskMod-sized) query side and streams the labeled side once —
    * same shape as [[annBruteForce]], so it replays in DuckDB and
    * hash-matches. For large×large (pseudo-labeling a whole corpus from a
    * big seed set) use [[knnLabelPropLsh]]: identical vote/argmax tail
    * over [[knnJoinLsh]]'s banded candidate generation — neither side
    * broadcasts, ids-only bucket join. */
  def knnLabelProp(embeddings: DataFrame, k: Int = 5, maskMod: Int = 5): DataFrame = {
    VecDot.register(embeddings.sparkSession)
    val p = embeddings.select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("vd"),
      sqrt(VecDot(col("embedding"), col("embedding"))).as("nrm"),
      col("label"))
    val q = p.filter(pmod(col("vec_id"), lit(maskMod)) === 0)
      .select(col("vec_id").as("query_id"), col("vd").as("qd"), col("nrm").as("qn"))
    val lab = p.filter(pmod(col("vec_id"), lit(maskMod)) =!= 0)
    val top = broadcast(q).crossJoin(lab)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        round(VecDot(col("qd"), col("vd")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rn") <= k)
    labelVote(top, k)
  }

  /** LSH-blocked twin of [[knnLabelProp]] — the scale path. Candidate
    * recall is probabilistic (multi-table sign-hash LSH), so this arm is
    * rows-only in verify; VectorOpsSpec pins agreement with the exact arm
    * on the vectors whose neighborhoods survive blocking. */
  def knnLabelPropLsh(embeddings: DataFrame, k: Int = 5, maskMod: Int = 5,
      planes: Int = AutoPlanes, tables: Int = AutoTables, dims: Int = 64): DataFrame = {
    val unl = embeddings.filter(pmod(col("vec_id"), lit(maskMod)) === 0)
    val lab = embeddings.filter(pmod(col("vec_id"), lit(maskMod)) =!= 0)
    // Votes need k GOOD labeled candidates per query, so this arm keeps
    // buckets wider than the generic kNN join (slack 7 ≈ 128/bucket/
    // table, reproducing the former planes=4 at sf0.1) while still
    // growing the width ~log2(N) — the fix for the r8 soak's ×13.5
    // wall-time blowup at ×10 data on the fixed default.
    val pln = if (planes > 0) planes else sizedPlanes(lab.count(), slack = 7)
    val top = knnJoinLsh(unl, lab, k = k, planes = pln, tables = tables, dims = dims)
      .join(lab.select(col("vec_id").as("right_id"), col("label")), Seq("right_id"))
      .select(col("left_id").as("query_id"), col("right_id").as("neighbor_id"),
        col("label"), col("cos_sim"))
    labelVote(top, k)
  }

  /** Shared vote/argmax tail: per query, count votes per label over the
    * top-k frame, pick (votes desc, label asc), attach mean similarity.
    * ONE pass over `top` (its subtree is the expensive crossjoin/bucket
    * join — referencing it twice would compute it twice): a (query,label)
    * hash aggregate carries partial sim sums, then one window over the
    * tiny per-label frame derives both the argmax vote and the
    * neighborhood mean (Σ partials / actual neighbor count — the LSH arm
    * may return < k). */
  private def labelVote(top: DataFrame, k: Int): DataFrame = {
    val byLabel = top.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), sum(col("cos_sim")).as("sim_sum"))
    val perQuery = Window.partitionBy(col("query_id"))
    byLabel
      .withColumn("vr", row_number().over(perQuery
        .orderBy(col("votes").desc, col("label"))))
      .withColumn("mean_sim",
        round(sum(col("sim_sum")).over(perQuery)
          / sum(col("votes")).over(perQuery), 6))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("label").as("pred_label"),
        col("votes"), col("mean_sim"))
  }

  /** Large×large approximate kNN JOIN: every `left` vector finds its
    * top-k cosine neighbors among `right` — the batch retrieval shape
    * (RAG corpus vs query log, train-vs-eval nearest neighbors) where
    * BOTH sides are fact-sized, so [[annLsh]]'s broadcast-the-queries
    * plan is wrong. Neither side is ever broadcast: both are bucketed
    * by `tables` independent sign-hash tables and meet in a shuffle
    * equi-join on (table, bucket); candidate generation moves ids only;
    * vectors re-attach per unique candidate pair; per-left top-k runs
    * as a window over the left_id partitioning of the CANDIDATE set
    * (bucket-bounded, never |left|×|right|). Recall is the standard
    * multi-table LSH guarantee; precision is exact (true cosine ranks
    * candidates). VectorOpsSpec pins twin recall and exactness of the
    * returned similarities.
    *
    * `planes` SIZES ITSELF WITH THE CORPUS by default: candidate volume
    * per table is Σ_b |left_b|×|right_b| ≈ |L||R|/2^planes, so a FIXED
    * bit width grows quadratically with density (soak r8: ×5-13 time at
    * ×10 data with planes=6). The default [[AutoPlanes]] derives
    * `ceil(log2(|R|)) − 5` from a count of the right (corpus) side —
    * holding per-left candidate volume at ≈ tables × 32 as N grows; an
    * explicit positive `planes` overrides (and skips the count job). */
  def knnJoinLsh(left: DataFrame, right: DataFrame, k: Int = 3,
      planes: Int = AutoPlanes, tables: Int = AutoTables, dims: Int = 64,
      targetCos: Double = 0.7, targetRecall: Double = 0.8,
      probeFlips: Int = 1): DataFrame = {
    val pln = if (planes > 0) planes else sizedPlanes(right.count(), slack = 5)
    // Tables auto-size for neighbors at `targetCos` under query-side
    // multi-probe (sizedTablesMp): the recall dial is explicit instead
    // of a frozen table count whose effective recall silently decayed
    // as auto-planes narrowed with the corpus (the r9 fixed default).
    // The CORPUS side — the big one — stores one row per table, so its
    // banding shrinks with the probed table count (3 vs the former 8 at
    // sf0.1 geometry); the (m+1)-bucket probe fan-out rides the small
    // query side.
    val tbl = if (tables > 0) tables
      else sizedTablesMp(pln, targetCos, targetRecall, probeFlips)
    val pl = prepared(left)
    val pr = prepared(right)
    val cand = bandedProbes(pl, "left_id", tbl, pln, dims, probeFlips)
      .join(bandedBase(pr, "right_id", tbl, pln, dims), Seq("tb"))
      .select(col("left_id"), col("right_id"))
      .distinct()
    val lv = pl.select(col("vec_id").as("left_id"), col("vd").as("ld"), col("nrm").as("ln"))
    val rv = pr.select(col("vec_id").as("right_id"), col("vd").as("rd"), col("nrm").as("rn2"))
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("cos_sim").desc, col("right_id"))
    cand
      .join(lv, Seq("left_id"))
      .join(rv, Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        round(VecDot(col("ld"), col("rd")) / (col("ln") * col("rn2")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
