package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Scale-soak harness: deterministically inflates the sf0.1 testdata ~N×
  * (default 10×) and asserts that the engine's costliest plans scale the
  * way the 100 TB design sheet claims — result-size invariants
  * (conservation, flag monotonicity via exact ×N sums) and per-query
  * wall-time growth bounded ~linear in the data. The small-SF oracle
  * proves CORRECTNESS; this proves the SHAPE: a plan hiding quadratic
  * work behind sf0.1's fixed overhead cannot hide it at 10×.
  *
  * Inflation model — "N× more distinct content", not "N copies":
  * replica r (0..N-1) offsets every id-like key by r·Stride (Stride is a
  * multiple of 10, so `doc_id % 10` corpus/eval and split membership is
  * replica-invariant, and FK pairs offset consistently on both sides);
  * dimension tables (region, nation) stay single-copy like real dims.
  * Content is decorrelated per replica, bijectively, so WITHIN-replica
  * structure is preserved exactly while replicas don't collide:
  *   - documents.text: per-token SEEDED ALPHABET BIJECTION (random
  *     permutation of a-z mirrored to A-Z, and of 0-9), SKIPPING
  *     stopword tokens. Length, character classes, whitespace, and
  *     stopword hits are all preserved — so token counts, punct/digit/
  *     stopword ratios, and therefore every quality flag are
  *     bit-identical per replica — while cross-replica whole-token
  *     collisions need two independent permutations to agree on every
  *     character (~26^-len, negligible). Unlike the earlier Caesar
  *     shift, a random permutation also scrambles the ORDER relation
  *     of letters (P(σ(a)<σ(b)) = ½), so byte-gradient perceptual
  *     hashes decorrelate across replicas too — the r8 soak had to
  *     leave the hamming media tier report-only precisely because
  *     adjacent Caesar shifts stayed inside its tolerance
  *     ([[replicaCharMap]]).
  *   - embeddings.embedding: deterministic per-replica DIMENSION
  *     PERMUTATION composed with SIGN FLIPS (seeded by replica index).
  *     Both maps are orthogonal, so every within-replica dot product
  *     and norm is preserved up to FP summation order (the products are
  *     the same multiset, summed in permuted order — ≤1 ulp-scale
  *     jitter, absorbed by the pair rules' tolerances). Cross-replica:
  *     sign flips alone proved insufficient (round 6 measured 18,003
  *     exact pairs at 10x vs ~1,440 expected — the synthetic embeddings
  *     carry enough per-coordinate structure that same-coordinate
  *     products keep a coherent sign), because flips leave each
  *     coordinate aligned with itself. The permutation destroys that
  *     alignment: coordinate i of one replica meets an unrelated
  *     coordinate π(i) of another, and the cross cosine becomes a
  *     random-sign mixture. (A cyclic rotation was tried first and
  *     rejected for the same low-frequency-structure reason.) What NO
  *     orthogonal map can remove is the metric space's chance tail: at
  *     minCos=0.45 in 64 dims unrelated vectors collide with rate
  *     ~1e-4, so the ~N²/2 cross-replica pair population keeps O(10^4)
  *     chance pairs at 10x regardless of decorrelation (measured:
  *     15.2k perm∘flip vs 18.0k flip-only — same tail). The asserted
  *     pair-grain invariant is therefore the WITHIN-replica mass
  *     (exactly xN — measured 1,440 = 10x144 at 10x), with cross mass
  *     reported as the chance-regime property it is.
  *   - facts (orders/lineitem/events): keys offset, timestamps/values
  *     unchanged — per-week and per-user grains gain exactly N× mass.
  *
  * Expected invariants under this model, asserted per query:
  *   - doc-grain outputs (flags, per-doc scores): rows and flag sums
  *     exactly ×N (each replica is an isomorphic universe).
  *   - pair-grain near-dup outputs: ~×N — "Near" with a small tolerance,
  *     because all-stopword shingles are shared across replicas and a
  *     shingle whose corpus df sat in (maxDf/N, maxDf] at 1× crosses the
  *     stop-shingle cap at N× (documented cap semantics, not a bug).
  *   - grouped-by-fixed-key outputs (weeks, returnflag cells, top-k with
  *     literal k, k-means with literal k): rows EQUAL, count sums ×N.
  *   - probabilistic/recall paths (LSH buckets see rotated vectors):
  *     banded around ×N.
  * Wall-time bound: t(N×) ≤ 1.5·N · t(1×) per query (generous because
  * sf0.1 latencies are part fixed overhead — a truly quadratic stage
  * still bursts through it, see the quarantined exact embedding arms).
  *
  * Usage:  graft.Soak [sfDir] [workDir]
  *   SPARK_GRAFT_SOAK_N=10      inflation factor
  *   SPARK_GRAFT_SOAK_REPS=3    timing reps per side (median)
  *   SPARK_GRAFT_SOAK_REUSE=1   reuse workDir/data from a prior run
  *   SPARK_GRAFT_SOAK_MD=SOAK.md  report path
  * Exit 1 if any invariant or time bound fails. Writes the markdown
  * report either way.
  */
object Soak {

  /** Replica key offset: far above any base id; multiple of 10 keeps
    * `% 10` split membership replica-invariant. */
  private val Stride = 100000000L

  // ---------- invariant rules ----------
  sealed trait Rule
  /** exactly N × base */
  case object TimesN extends Rule
  /** exactly equal to base (fixed-key grouping / literal top-k) */
  case object Equal extends Rule
  /** within ±tol of N × base (cap-boundary effects) */
  final case class Near(tol: Double) extends Rule
  /** within [lo, hi] × N × base (probabilistic recall paths) */
  final case class Band(lo: Double, hi: Double) extends Rule
  /** report-only (content-dependent size, e.g. learned vocab) */
  case object Info extends Rule

  /** `timeFactor` scales the uniform wall-growth bound for operators
    * whose DOCUMENTED scale law is superlinear at constant quality: the
    * recall-held near-dup LSH pays n^(1+ρ) (ρ ≈ 0.62 at cos 0.45 — the
    * Indyk–Motwani constant-recall optimum), so its expected ×10 wall
    * ratio is ~10^ρ ≈ 4.2 in candidate mass ON TOP of the linear data
    * growth; a bound calibrated for linear operators would flag the
    * documented law as a regression. */
  final case class Check(name: String, rows: Rule,
      sumCol: Option[String] = None, sumRule: Rule = TimesN,
      timeFactor: Double = 1.0)

  /** The costliest headline queries (round-5 bench tail) plus one
    * representative per scale-sensitive family; diagnostics-quarantined
    * quadratic cross-checks are deliberately absent. */
  private def checks: Seq[Check] = Seq(
    // text curation composites — the most expensive plans in the engine
    Check("corpus_keep", TimesN, Some("keep")),
    Check("corpus_keep_semantic", TimesN, Some("keep"), Info),
    // near-dup family: pair/cluster grains, stop-shingle cap at the edge
    Check("neardup_jaccard", Near(0.02)),
    Check("neardup_keep_best", Near(0.02)),
    Check("neardup_pagerank", Near(0.05)),
    Check("neardup_incremental", Near(0.02)),
    Check("decontaminate", TimesN, Some("contaminated")),
    Check("dedup_exact", TimesN),
    Check("dup_passages", Near(0.05)),
    // vector family: k-means centroids cross replicas by design; LSH
    // sees rotated replicas through fixed hyperplanes
    Check("semantic_dedup_keep", Band(0.7, 1.3)),
    // raw row count is report-only BY THE MATH, not by choice: at
    // minCos=0.45 in 64 dims the chance-collision rate between two
    // unrelated vectors is ~1e-4, so the ~N²·|base|²/2 cross-replica
    // pair population contributes O(10^4) chance pairs at 10x — no
    // orthogonal decorrelation can push that below the ~1.4k true mass
    // (measured: perm∘sign-flip leaves 15.2k cross pairs; sign-flip
    // alone left 18.0k; both are the same chance tail). A REAL 10x
    // corpus behaves identically: pair count at a fixed loose threshold
    // grows quadratically in the chance regime. The operator-scale
    // assertions therefore live in [[main]] on the WITHIN-replica mass
    // (exact-xN isomorphism + banded LSH) plus whole-set recall.
    // the 0.9-recall default costs n^(1+ρ) BY DESIGN (tables grow
    // 7 → 26 at ×10 to hold the contract; recall measured 0.94 → 0.93);
    // the r9 setting was ×5 cheaper at ×10 and missed half the true
    // pairs — the time bound widens to the documented law instead
    Check("embedding_neardup_lsh", Info, timeFactor = 2.5),
    Check("knn_join", Band(0.9, 1.1), timeFactor = 1.5),
    Check("cluster_profiles", Equal),
    // reference pipeline over the rental view
    Check("weekly_summary", Equal, Some("newly_rented_during_week")),
    Check("upsert_round", Equal),
    // TPC-H-ish analytics at fact scale
    Check("pricing_summary", Equal, Some("count_order")),
    Check("top_customers", Equal, None),
    Check("sole_late_suppliers", Equal), // literal top-10 (Analytics.scala:637)
    // events: user-disjoint replicas, same timeline
    Check("events_sessions", TimesN),
    // the custom physical as-of operator: per-user merge, replicas are
    // user-disjoint -> every left (purchase) row emits exactly once
    Check("events_asof_phys", TimesN),
    // the band-join rewrite path: windows pin to replica-0 users
    // (user_id < 50; offset replicas sit at >= Stride), so the window
    // set EQUALS base while every replica's points land inside them on
    // the shared timeline -> rows equal, contained-event mass exactly xN
    Check("events_in_windows", Equal, Some("n_events_in_window")),
    // content-derived vocabularies: size depends on the shifted text
    Check("vocab_bpe", Info),
    Check("doc_search_hybrid", Info),
    // round-8 additions.
    // dup spans: rows = every doc ≥ 40 chars, exactly xN. dup_chars ~xN:
    // the per-replica bijection preserves stopword tokens AND layout, so a
    // window lying entirely in stopwords is identical (and identically
    // 40-char window lying entirely in stopwords is identical (and
    // identically placed) in every replica — those windows become cross-replica dups
    // that base didn't have. Near tolerance absorbs that mass; if it
    // exceeds 5% the invariant (not the operator) is miscalibrated.
    Check("doc_dup_spans", TimesN, Some("dup_chars"), Near(0.05)),
    // novelty: first-seen credit for stopword-pure shingles collapses to
    // replica 0 (lowest doc_id), so later replicas lose exactly that
    // shared-shingle credit; content shingles are bijection-distinct per
    // replica and stay xN.
    Check("doc_novelty", TimesN, Some("novel_shingles"), Near(0.05)),
    // (knn_label_prop — the EXACT label-prop arm — is deliberately
    // absent, like every quadratic cross-check: queries×labeled grows
    // ×100 at ×10 data (measured ×27 wall — the fixed-overhead tail of
    // exactly that), which is the reason it sits in Bench Diagnostics.
    // Its scale path is asserted below.)
    // export: 8 shards at any scale; the LCG spreads every replica's
    // offset ids across all shards, total doc mass exactly xN.
    Check("export_manifest", Equal, Some("n_docs"), TimesN),
    // SQ-quantized ANN: literal 10-query x top-5 surface at any scale;
    // the [min,max] grid and shortlist contents shift with the rotated
    // replicas, the output geometry doesn't.
    Check("ann_sq", Equal),
    // excision: same stopword-window tolerance as doc_dup_spans; the
    // cross-replica canonical (min doc_id = replica 0) only matters for
    // stopword-pure windows — content windows are bijection-distinct per
    // replica, so each replica elects its own canonicals.
    Check("doc_dup_excise", TimesN, Some("removed_chars"), Near(0.05)),
    // delta probe: Stride % 10 == 0 keeps batch membership
    // replica-invariant; each replica's delta probes its own corpus.
    Check("doc_dup_spans_delta", TimesN, Some("dup_chars"), Near(0.05)),
    // provenance matrix: sources are NOT offset per replica, so the pair
    // set equals base (replicas are isomorphic; stopword windows existed
    // cross-source at 1x already); shared-key counts ~xN since replica
    // keys are bijection-distinct, minus the once-counted stopword keys.
    Check("source_overlap", Equal, Some("shared_windows"), Near(0.05)),
    // balanced export: 8 shards at any scale; the bijection preserves lengths,
    // so total char mass is exactly xN.
    Check("export_manifest_balanced", Equal, Some("n_chars_total"), TimesN),
    // truncation study: 3 literal rows; recall is content-dependent
    // (cross-replica chance neighbors dilute prefix agreement).
    Check("ann_dim_tradeoff", Equal, Some("recall_at_k"), Info),
    // LSH label prop: one row per covered query; multi-table bucket
    // recall keeps coverage near-complete at both scales.
    Check("knn_label_prop_lsh", Band(0.9, 1.1)),
    // confusion matrix: the bijection preserves stopwords, so predictions are
    // replica-invariant — same (label, pred) cells, counts xN.
    Check("langid_confusion", Equal, Some("n_docs")),
    // per-source rollup: source values aren't offset per replica (rows
    // equal); char mass xN with the stopword-window tolerance.
    Check("source_effective_size", Equal, Some("effective_chars"), Near(0.05)),
    // coverage curve: 3 literal rows; each row's total is the corpus
    // token mass (xN — the bijection preserves token counts); coverage itself
    // is content-dependent (replica-distinct content words grow the
    // vocabulary, so top-k coverage drops — by design, not asserted).
    Check("vocab_coverage", Equal, Some("total_tokens")),
    // cluster-aware splits: one row per doc, exactly xN; the assignment
    // itself is id-hash-dependent and differs per replica.
    Check("doc_splits_clustered", TimesN),
    // leakage detector: offset ids hash to different splits per replica,
    // so the leaked-pair pattern is not replica-invariant — report-only.
    Check("split_leakage", Info),
    // hamming media near-dup — ASSERTED under the permutation
    // decorrelation (the r8 Caesar inflation was order-preserving-ish,
    // exactly the transform class this perceptual hash sees through, so
    // adjacent-shift replicas paired and the row was Info; the seeded
    // bijection scrambles gradient signs, leaving cross-replica frames
    // at chance ≈5·10³/2³¹ per pair). Rows ≈ ×N, Near not exact:
    // Stride % 7 ≠ 0, so each replica's doc_id % 7 = 3 noisy-copy
    // subset is a different (equally-sized) residue slice of the base
    // docs.
    Check("media_neardup_hamming", Near(0.05), Some("matched_frames"), Near(0.1)),
    // exact-key perceptual dHash tier: same within-replica ×N mass,
    // same residue-slice tolerance; cross-replica exact-key jaccard
    // pairs would need two permuted docs to share ≥80% of frame hashes
    Check("media_neardup_dhash", Near(0.05)))

  // ---------- deterministic content decorrelation ----------

  private val AllStopwords: Set[String] =
    (graft.functions.TextFns.StopwordsEn ++ graft.functions.TextFns.StopwordsEs
      ++ graft.functions.TextFns.StopwordsDe ++ graft.functions.TextFns.StopwordsFr).toSet

  /** Per-replica seeded ALPHABET BIJECTION (r = 0 ⇒ identity): an
    * independent random permutation of a-z (mirrored onto A-Z) and of
    * 0-9. Replaces the r7/r8 Caesar shift for one measured reason: a
    * shift is order-preserving over almost the whole alphabet, so the
    * byte-gradient dHash — built exactly to see through order-preserving
    * re-encodes — kept adjacent-shift replicas within its hamming
    * tolerance (~2·|Δ|/26 of gradient bits flip; r8 measured 22.4k
    * hamming pairs at 10× = 11.5k true within-replica + ~10.3k
    * adjacent-shift artifacts), forcing the perceptual soak rows to
    * report-only. A random permutation scrambles the order relation of
    * any two letters with probability ½ per pair, so cross-replica
    * frames hash to ~independent 31-bit codes and the hamming ≤ 3 tier
    * is pure chance (≈5·10³/2³¹ per frame pair) — the perceptual rows
    * assert ×N.
    *
    * Everything the Caesar form preserved still holds: length, char
    * classes, whitespace layout, and stopword identity are untouched
    * (stopword tokens skip the map), so token counts, punct/digit/
    * stopword ratios and every quality flag stay bit-identical per
    * replica. Cross-replica whole-token collisions need σ_r and σ_r' to
    * agree on every character of the token (~26^-len — the Caesar form's
    * exact-zero weakens to negligible). */
  private[graft] def replicaCharMap(r: Int): Array[Char] = {
    val map = Array.tabulate(128)(_.toChar)
    if (r != 0) {
      val rnd = new scala.util.Random(0x7E47 * 2654435761L + r)
      val lower = rnd.shuffle(('a' to 'z').toVector)
      val digit = rnd.shuffle(('0' to '9').toVector)
      ('a' to 'z').foreach { c =>
        map(c) = lower(c - 'a')
        map(c - 32) = (lower(c - 'a') - 32).toChar
      }
      ('0' to '9').foreach(c => map(c) = digit(c - '0'))
    }
    map
  }

  /** Apply [[replicaCharMap]] per token, skipping stopwords (see object
    * doc). Harness-side data generation only — never a query operator,
    * so a plain Scala UDF is fine here (it runs once to build the soak
    * dataset, not in any measured plan). */
  private[graft] def bijectText(text: String, map: Array[Char]): String = {
    if (text == null) return text
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) { sb.append(c); i += 1 }
      else {
        var j = i
        while (j < text.length && !Character.isWhitespace(text.charAt(j))) j += 1
        val tok = text.substring(i, j)
        if (AllStopwords.contains(tok.toLowerCase)) sb.append(tok)
        else {
          var k = 0
          while (k < tok.length) {
            val ch = tok.charAt(k)
            sb.append(if (ch < 128) map(ch) else ch)
            k += 1
          }
        }
        i = j
      }
    }
    sb.toString
  }

  private def offset(cols: String*)(df: DataFrame, r: Int): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * Stride)))

  private def unioned(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(r => f(df, r)).reduce(_.unionAll(_))

  /** Write the inflated dataset under `$dataDir/<table>.parquet` (dirs —
    * [[Tables.table]] reads them like the driver's single files). */
  def inflate(spark: SparkSession, sfDir: String, dataDir: String, n: Int): Unit = {
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dataDir/$name.parquet")
      println(s"[soak] inflated $name x$n")
    }
    def base(name: String) = Tables.table(spark, sfDir, name)
    // dims: single copy
    write("region", base("region"))
    write("nation", base("nation"))
    // facts: key offsets only
    write("customer", unioned(base("customer"), n)(offset("c_custkey")))
    write("supplier", unioned(base("supplier"), n)(offset("s_suppkey")))
    write("part", unioned(base("part"), n)(offset("p_partkey")))
    write("orders", unioned(base("orders"), n)(offset("o_orderkey", "o_custkey")))
    write("lineitem",
      unioned(base("lineitem"), n)(offset("l_orderkey", "l_partkey", "l_suppkey")))
    // events.ts passes through untouched in whatever physical type the
    // source uses (int64-nanos legacy or timestamp[us]); Tables.events'
    // schema-adaptive ingest reads either form. nanosAsLong keeps the raw
    // read viable on legacy nanos inputs and is a no-op on MICROS.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write("events", unioned(base("events"), n)(offset("event_id", "user_id")))
    // documents: id offset + per-replica alphabet-bijection decorrelation
    write("documents", unioned(base("documents"), n) { (df, r) =>
      val map = replicaCharMap(r)
      val bij = udf((text: String) => bijectText(text, map))
      offset("doc_id")(df, r).withColumn("text", bij(col("text")))
    })
    // embeddings: id offset + per-replica orthogonal decorrelation
    // (dimension permutation ∘ sign flips — see object doc). The map is
    // built driver-side from a replica-seeded RNG and unrolled into a
    // 64-element array(); this runs once to build the soak dataset, not
    // in any measured plan.
    val dim = base("embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    write("embeddings", unioned(base("embeddings"), n) { (df, r) =>
      val mapped =
        if (r == 0) col("embedding")
        else {
          val rnd = new scala.util.Random(0x50AC * 2654435761L + r)
          val perm = rnd.shuffle((0 until dim).toVector)
          array((0 until dim).map { i =>
            val src = col("embedding").getItem(perm(i))
            if (rnd.nextBoolean()) -src else src
          }: _*)
        }
      offset("vec_id")(df, r).withColumn("embedding", mapped)
    })
  }

  // ---------- measurement ----------

  /** Same hygiene + noop-sink discipline as [[Bench.main]]: cache
    * cleared, persisted blocks freed, GC nudged; the query runs through
    * the noop sink so Catalyst can't prune the measured expressions. */
  private def timeQuery(spark: SparkSession, name: String, dir: String,
      reps: Int): Double = {
    val times = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.length / 2)
  }

  private def measure(spark: SparkSession, c: Check, dir: String,
      reps: Int): (Double, Long, Option[Double]) = {
    val sec = timeQuery(spark, c.name, dir, reps)
    val df = SparkEntry.queries(c.name)(spark, dir)
    val rows = df.count()
    val s = c.sumCol.map(sc =>
      df.agg(sum(col(sc)).cast("double")).head.getDouble(0))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    (sec, rows, s)
  }

  private def eval(rule: Rule, baseV: Double, soakV: Double, n: Int): (Boolean, String) = {
    val exp = baseV * n
    rule match {
      case TimesN => (soakV == exp, f"=${n}x")
      case Equal => (soakV == baseV, "=base")
      case Near(tol) =>
        (baseV == 0 && soakV == 0 || exp > 0 && math.abs(soakV / exp - 1) <= tol,
          f"${n}x±${tol * 100}%.0f%%")
      case Band(lo, hi) =>
        (baseV == 0 && soakV == 0 || soakV >= lo * exp && soakV <= hi * exp,
          f"[$lo%.1f,$hi%.1f]x${n}x")
      case Info => (true, "info")
    }
  }

  // ---------- main ----------

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.drop(1).headOption.getOrElse("/tmp/graft_soak")
    val n = sys.env.getOrElse("SPARK_GRAFT_SOAK_N", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "3").toInt
    val mdPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_MD", "SOAK.md")
    val maxGrowth = n * sys.env.getOrElse("SPARK_GRAFT_SOAK_SLACK", "1.5").toDouble
    val spark = GraftSession.local()

    val dataDir = s"$workDir/data"
    val reuse = sys.env.get("SPARK_GRAFT_SOAK_REUSE").contains("1") &&
      Files.exists(Paths.get(s"$dataDir/documents.parquet"))
    if (!reuse) inflate(spark, sfDir, dataDir, n)

    // warmup per input family (mirrors Bench): JIT/codegen state only
    Seq("weekly_summary", "neardup_jaccard", "ann_topk")
      .foreach(q => timeQuery(spark, q, sfDir, 1))

    final case class Result(c: Check, tBase: Double, tSoak: Double,
        rowsBase: Long, rowsSoak: Long, rowsOk: Boolean, rowsLabel: String,
        sumBase: Option[Double], sumSoak: Option[Double], sumOk: Boolean,
        timeOk: Boolean)

    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .fold(checks)(only => checks.filter(c => only(c.name)))

    val results = selected.map { c =>
      val (tb, rb, sb) = measure(spark, c, sfDir, reps)
      val (ts, rs, ss) = measure(spark, c, dataDir, reps)
      val (rOk, rLabel) = eval(c.rows, rb.toDouble, rs.toDouble, n)
      val sOk = (sb, ss) match {
        case (Some(b), Some(s)) => eval(c.sumRule, b, s, n)._1
        case _ => true
      }
      val ratio = if (tb > 0) ts / tb else 0.0
      val bound = maxGrowth * c.timeFactor
      val tOk = ratio <= bound
      println(f"[soak] ${c.name}%-24s rows $rb%8d -> $rs%9d (${rLabel}%-12s ${if (rOk) "ok" else "FAIL"})  " +
        f"t $tb%6.2f -> $ts%7.2f s (x$ratio%5.2f ≤ $bound%.0f ${if (tOk) "ok" else "FAIL"})" +
        (if (!sOk) "  sum FAIL" else ""))
      Result(c, tb, ts, rb, rs, rOk, rLabel, sb, ss, sOk, tOk)
    }

    // LSH recall vs the exact arm at BOTH scales: the scale claim for
    // the banded-signature path is that recall doesn't collapse when
    // buckets crowd at Nx density. The exact arm is the documented
    // quadratic cross-check (Bench Diagnostics) — run once per side
    // here, untimed, as the truth set.
    // (recall, hits, truthTotal, truthCross, lshWithin): replica of an
    // id = id DIV Stride (base ids sit far below Stride, so the
    // quotient IS the replica index); at 1x every pair is trivially
    // within-replica, so the same code measures both sides.
    def lshRecall(dir: String): (Double, Long, Long, Long, Long) = {
      val truth = ops.VectorOps.nearDupEmbedding(Tables.embeddings(spark, dir))
        .select(col("vec_a"), col("vec_b"))
      val lsh = SparkEntry.queries("embedding_neardup_lsh")(spark, dir)
        .select(col("vec_a"), col("vec_b"))
      val cross = expr(s"vec_a DIV ${Stride}L") =!= expr(s"vec_b DIV ${Stride}L")
      val truthCross = truth.filter(cross).count()
      val nTruth = truth.count()
      val lshWithin = lsh.filter(!cross).count()
      val hit = lsh.join(truth, Seq("vec_a", "vec_b"), "left_semi").count()
      (if (nTruth == 0) 1.0 else hit.toDouble / nTruth, hit, nTruth, truthCross, lshWithin)
    }
    val runLshRecall = selected.exists(_.name == "embedding_neardup_lsh")
    val (recallBase, hitB, truthB, _, lshWithinB) =
      if (runLshRecall) lshRecall(sfDir) else (1.0, 0L, 0L, 0L, 0L)
    val (recallSoak, hitS, truthS, crossS, lshWithinS) =
      if (runLshRecall) lshRecall(dataDir) else (1.0, 0L, 0L, 0L, 0L)
    // the PRODUCTION recall contract (r10): the shipped near-dup default
    // (targetRecall = 0.9, multi-probe) must hold >= 0.9 at BOTH scales
    // — not merely "not collapse" (measured 0.938 at 1x, 0.927 at 10x)
    val recallOk = !runLshRecall ||
      (recallBase >= 0.9 && recallSoak >= 0.9)
    // THE pair-grain scale invariants, on within-replica mass (the part
    // the orthogonal decorrelation makes exactly replica-isomorphic;
    // cross-replica mass is the metric space's chance tail — reported,
    // with the math, but not an operator property):
    //   - exact truth within-mass must be exactly xN up to fp jitter at
    //     the cosine threshold (permuted summation order shifts a
    //     borderline pair by ≤1 ulp)
    //   - LSH within-mass banded xN (replicas reach the fixed
    //     hyperplanes through different orthogonal maps, so per-replica
    //     bucket recall varies)
    val withinTruthS = truthS - crossS
    val isomorphismOk = !runLshRecall || truthB == 0 ||
      math.abs(withinTruthS.toDouble / (truthB.toDouble * n) - 1) <= 0.02
    val lshWithinOk = !runLshRecall || lshWithinB == 0 ||
      (lshWithinS >= 0.5 * n * lshWithinB && lshWithinS <= 1.6 * n * lshWithinB)
    if (runLshRecall) {
      println(f"[soak] lsh_recall_vs_exact 1x $recallBase%.3f ($hitB/$truthB) -> " +
        f"${n}x $recallSoak%.3f ($hitS/$truthS) ${if (recallOk) "ok" else "FAIL"}")
      println(f"[soak] within_replica_truth ${n}x $withinTruthS vs ${n}x$truthB " +
        f"${if (isomorphismOk) "ok" else "FAIL"}; lsh_within $lshWithinS vs " +
        f"[0.5,1.6]x${n}x$lshWithinB ${if (lshWithinOk) "ok" else "FAIL"}")
      println(f"[soak] cross_replica_chance_pairs ${n}x $crossS " +
        f"(${if (truthS == 0) 0.0 else 100.0 * crossS / truthS}%.1f%% of truth; " +
        "chance tail at minCos=0.45/d=64 — grows ~quadratically in any corpus, info)")
    }

    // CorpusRun end-to-end at both scales: the funnel must narrow the
    // same way (stage counts ~xN) and finish inside the same growth
    // bound as the queries. PSI gate failure exits 2 via CorpusRun.
    // Stdout is teed into the return so the indexed cycle below can
    // assert WHICH admission path ran (memoized pairs, cached records).
    def corpusRun(dir: String, out: String): (Double, Map[String, Long], String) = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val buf = new java.io.ByteArrayOutputStream()
      val tee = new java.io.OutputStream {
        override def write(b: Int): Unit = { System.out.write(b); buf.write(b) }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          System.out.write(b, off, len); buf.write(b, off, len)
        }
        override def flush(): Unit = System.out.flush()
      }
      val t0 = System.nanoTime()
      Console.withOut(new java.io.PrintStream(tee, true))(
        CorpusRun.main(Array(dir, out)))
      val sec = (System.nanoTime() - t0) / 1e9
      val report = spark.read.parquet(s"$out/report.parquet")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (sec, report, buf.toString("UTF-8"))
    }
    val (crBase, repBase, _) = corpusRun(sfDir, s"$workDir/corpus_base")
    val (crSoak, repSoak, _) = corpusRun(dataDir, s"$workDir/corpus_soak")
    val crRatio = crSoak / crBase
    val crTimeOk = crRatio <= maxGrowth
    // stage conservation: every funnel stage within ±2% of xN (the
    // near-dup keeper sits behind the same stop-shingle cap as above)
    val crStages = repBase.keys.toSeq.sorted.map { st =>
      val (b, s) = (repBase(st), repSoak.getOrElse(st, -1L))
      val ok = b == 0 && s == 0 || math.abs(s.toDouble / (b.toDouble * n) - 1) <= 0.02
      (st, b, s, ok)
    }
    println(f"[soak] CorpusRun t $crBase%6.2f -> $crSoak%7.2f s (x$crRatio%5.2f) " +
      s"stages ${if (crStages.forall(_._4)) "ok" else "FAIL"}")

    // Indexed CorpusRun admission cycle: against a persisted ingest
    // state (SPARK_GRAFT_INGEST_STATE), the WARM full re-run — records
    // from the sh cache, fp-probe early-out, memoized pair frame — must
    // BEAT the inline funnel at BOTH scales, the memo/cache paths must
    // actually engage (asserted from the run's own stdout markers), the
    // warm funnel must reproduce the cold run's stage counts exactly,
    // and a FIXED-size fresh-content delta batch must admit+absorb at a
    // wall that is ~flat in corpus size (the state's whole point).
    // Medians of `reps` runs for the warm/inline A/B — the r11 gap was
    // 2.9%, inside single-shot noise; cold and delta are single-shot
    // (once-per-corpus / loose-band claims).
    val runCorpusIndexed = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("corpus_indexed"))
    final case class IdxCycle(inline: Double, cold: Double, warm: Double,
        delta: Double, memoHit: Boolean, cacheHit: Boolean, stagesMatch: Boolean)
    def indexedCycle(dir: String, label: String): IdxCycle = {
      def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
      val state = s"$workDir/ingest_cr_$label"
      val sp = new org.apache.hadoop.fs.Path(state)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
      def run(withState: Boolean, out: String) = {
        if (withState) sys.props("SPARK_GRAFT_INGEST_STATE") = state
        else sys.props.remove("SPARK_GRAFT_INGEST_STATE")
        corpusRun(dir, s"$workDir/$out")
      }
      try {
        val (cold, repCold, _) = run(withState = true, s"corpus_cold_$label")
        // INTERLEAVED inline/warm pairs: JIT/codegen/page-cache warmup
        // drifts wall clocks across a run, so back-to-back pairs see the
        // same environment and the medians compare apples to apples (a
        // sequential inline-block-then-warm-block order hands the later
        // block the warmer JVM)
        val ab = (1 to reps).map { _ =>
          (run(withState = false, s"corpus_inline_$label")._1,
            run(withState = true, s"corpus_warm_$label"))
        }
        val inline = med(ab.map(_._1))
        val warmRuns = ab.map(_._2)
        val warm = med(warmRuns.map(_._1))
        val memoHit = warmRuns.forall(_._3.contains("memoized pair frame"))
        val cacheHit = warmRuns.forall(_._3.contains("fingerprint-only text scan"))
        val stagesMatch = warmRuns.forall(_._2 == repCold)
        // the SAME delta batch probes/absorbs against both scales'
        // states (ids offset far past every replica; an independent
        // alphabet bijection makes the content genuinely new). The PSI
        // gate is disarmed — this row measures admission cost, not
        // split drift over a 500-doc batch.
        sys.props("SPARK_GRAFT_INGEST_STATE") = state
        sys.props("SPARK_GRAFT_PSI_MAX") = "10"
        val delta = corpusRun(s"$workDir/delta_input", s"$workDir/corpus_delta_$label")._1
        IdxCycle(inline, cold, warm, delta, memoHit, cacheHit, stagesMatch)
      } finally {
        sys.props.remove("SPARK_GRAFT_INGEST_STATE")
        sys.props.remove("SPARK_GRAFT_PSI_MAX")
      }
    }
    val cyc: Option[(IdxCycle, IdxCycle)] = if (!runCorpusIndexed) None else {
      val map97 = replicaCharMap(97)
      val bij = udf((text: String) => bijectText(text, map97))
      Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + lit(777L * Stride))
        .withColumn("text", bij(col("text")))
        .write.mode("overwrite").parquet(s"$workDir/delta_input/documents.parquet")
      Some((indexedCycle(sfDir, "base"), indexedCycle(dataDir, "soak")))
    }
    val corpusIndexedOk = cyc.forall { case (b, s) =>
      b.warm < b.inline && s.warm < s.inline &&
        b.memoHit && s.memoHit && b.cacheHit && s.cacheHit &&
        b.stagesMatch && s.stagesMatch &&
        s.delta / b.delta <= 2.0
    }
    cyc.foreach { case (b, s) =>
      println(f"[soak] corpus_indexed 1x: inline ${b.inline}%6.2f cold ${b.cold}%6.2f " +
        f"warm ${b.warm}%6.2f delta ${b.delta}%6.2f memo=${b.memoHit} cache=${b.cacheHit} stages=${b.stagesMatch}")
      println(f"[soak] corpus_indexed ${n}x: inline ${s.inline}%6.2f cold ${s.cold}%6.2f " +
        f"warm ${s.warm}%6.2f delta ${s.delta}%6.2f memo=${s.memoHit} cache=${s.cacheHit} stages=${s.stagesMatch} " +
        f"(warm<inline both scales; delta flat x${s.delta / b.delta}%4.2f ≤2.0) " +
        s"${if (corpusIndexedOk) "ok" else "FAIL"}")
    }

    // Persisted ingest-index scale: warm PROBE and ABSORB wall must be
    // flat in corpus size at a FIXED delta — probes are delta-keyed
    // joins against the parquet state, absorb is an LSM segment append
    // (work ∝ batch, never ∝ index; a bucket-merge would touch every
    // bucket on any realistic batch — see IngestIndex scaladoc). The 1x
    // and Nx states are built from the respective corpora; the SAME
    // sf0.1 delta then probes and absorbs against both.
    def ingestWalls(d: String, state: String): (Double, Double, Double) = {
      val corpus = Tables.documents(spark, d).filter(col("doc_id") % 10 =!= 0)
      val delta = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0)
      // shingled state: the probe bundle includes the r17 exact-jaccard
      // delta probe over the persisted shp/ postings, so the ≤2.0 probe
      // bound pins ITS corpus-flatness too (vs the inline arm, which
      // re-shingles corpus text per batch)
      val idx = new incremental.IngestIndex(spark, state, withShingles = true)
      idx.build(corpus)
      def wall(body: => Unit): Double = {
        val ts = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          System.gc()
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }.sorted
        ts(ts.length / 2)
      }
      val probe = wall {
        idx.dedupExactProbe(delta).write.format("noop").mode("overwrite").save()
        idx.dupSpansProbe(delta).write.format("noop").mode("overwrite").save()
        idx.winnowProbe(delta).write.format("noop").mode("overwrite").save()
        idx.jaccardDeltaProbe(delta).write.format("noop").mode("overwrite").save()
      }
      val absorb = wall(idx.absorb(delta))
      // the inline twins rebuild their corpus index per call — the cost
      // the persisted state exists to eliminate; measured here so the
      // "indexed beats inline at Nx" claim is a number, not a diagram
      val inline = wall {
        ops.TextOps.dedupExactIncremental(corpus, delta)
          .write.format("noop").mode("overwrite").save()
        ops.TextOps.docDupSpansIncremental(corpus, delta)
          .write.format("noop").mode("overwrite").save()
        ops.TextOps.nearDupWinnowIncremental(corpus, delta)
          .write.format("noop").mode("overwrite").save()
        ops.TextOps.nearDupJaccardIncremental(corpus, delta)
          .write.format("noop").mode("overwrite").save()
      }
      (probe, absorb, inline)
    }
    val runIngest = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("ingest_scale"))
    val (ipB, iaB, inB) = if (runIngest) ingestWalls(sfDir, s"$workDir/ingest_base") else (0.0, 0.0, 0.0)
    val (ipS, iaS, inS) = if (runIngest) ingestWalls(dataDir, s"$workDir/ingest_soak") else (0.0, 0.0, 0.0)
    // absorb is the by-construction-flat path (the append writes the
    // same delta-sized segments either way) — but its ~1.2-1.7 s wall
    // sits at the harness variance floor: identical code/input measured
    // x1.39 inside a full soak run and x1.17 in a quiet re-run minutes
    // apart (r15), so the old ±20% bound flagged scheduler noise, not
    // work. The regression this row exists to catch — absorb work ∝
    // corpus — would read ≥x5 at 10x; 1.5 clears the measured noise
    // floor while still failing loudly on any proportional shape. The
    // warm probe keeps one index-proportional columnar scan (documented
    // floor) AND the same variance floor — the same 1x probe measured
    // 1.79 s and 1.26 s in consecutive runs on identical input — so its
    // band is 2x (the inline-twin comparison below is the sharper claim
    // anyway).
    val ingestProbeOk = !runIngest || ipB == 0 || ipS / ipB <= 2.0
    val ingestAbsorbOk = !runIngest || iaB == 0 || iaS / iaB <= 1.5
    // the indexed path must BEAT the inline rebuild where it matters —
    // against the big corpus
    val ingestBeatsInline = !runIngest || ipS < inS
    if (runIngest)
      println(f"[soak] ingest_state warm probe $ipB%6.2f -> $ipS%6.2f s (x${ipS / ipB}%4.2f ≤2.0 " +
        f"${if (ingestProbeOk) "ok" else "FAIL"}); absorb $iaB%6.2f -> $iaS%6.2f s " +
        f"(x${iaS / iaB}%4.2f ≤1.5 ${if (ingestAbsorbOk) "ok" else "FAIL"}); " +
        f"inline twins $inB%6.2f -> $inS%6.2f s (indexed beats inline at ${n}x: " +
        f"${if (ingestBeatsInline) "ok" else "FAIL"})")

    // Persisted VECTOR index scale (r19 VectorIndex — the IngestIndex
    // discipline applied to ANN): the 1x and Nx indexes build from the
    // respective corpora; a FIXED query set (replica-0 ids, present at
    // both scales, identical to the inline arm's own query rule) then
    // probes both, and the SAME fixed sf0.1 delta runs the
    // frozen-geometry LSH near-dup probe against both. The claims: the
    // warm IVF probe reads nprobe/nlist of the corpus (sublinear growth,
    // and strictly cheaper than the inline arm, which re-trains Lloyd +
    // re-assigns the whole corpus per call), and the delta near-dup
    // probe's work is ∝ batch × occupancy under the build-time
    // auto-sized geometry (readKeys-pruned postings), not ∝ corpus.
    final case class VecWalls(build: Double, probe: Double, inlineIvf: Double,
        ndProbe: Double, inlineNd: Double)
    def vectorWalls(d: String, state: String): VecWalls = {
      val corpus = Tables.embeddings(spark, d).filter(col("vec_id") % 10 =!= 0)
      val queries = corpus.filter(col("vec_id") < 10) // replica 0: fixed across scales
      val delta = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 10 === 0)
      val sp = new org.apache.hadoop.fs.Path(state)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
      val idx = new incremental.VectorIndex(spark, state, withLsh = true)
      def wall(body: => Unit): Double = {
        val ts = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          System.gc()
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }.sorted
        ts(ts.length / 2)
      }
      val b0 = System.nanoTime()
      idx.build(corpus)
      val build = (System.nanoTime() - b0) / 1e9
      val probe = wall(
        idx.probe(queries).write.format("noop").mode("overwrite").save())
      val inlineIvf = wall(
        ops.VectorOps.annIvf(corpus).write.format("noop").mode("overwrite").save())
      val ndProbe = wall(
        idx.probeNearDup(delta).write.format("noop").mode("overwrite").save())
      val inlineNd = wall(ops.VectorOps.nearDupEmbeddingIncrementalLsh(corpus, delta)
        .write.format("noop").mode("overwrite").save())
      VecWalls(build, probe, inlineIvf, ndProbe, inlineNd)
    }
    val runVector = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("vector_index_scale"))
    val vec: Option[(VecWalls, VecWalls)] =
      if (!runVector) None
      else Some((vectorWalls(sfDir, s"$workDir/vidx_base"),
        vectorWalls(dataDir, s"$workDir/vidx_soak")))
    // warm probe must beat the inline retrain-per-call arm at Nx AND
    // grow no faster than it (the sublinear nprobe/nlist claim); the
    // fixed-delta near-dup probe follows the CONSTANT-RECALL LSH law
    // (tables grow to hold targetRecall as density rises — cost ∝ n^ρ,
    // ρ ≈ 0.62, the same law the embedding_neardup_lsh timeFactor
    // encodes), floored at the 2.5 variance floor the ×10 calibration
    // used: a constant bound flags the documented law itself at ×30
    // (measured ×3.20 there, inside 30^0.62 ≈ 8.3).
    val vecProbeBeats = vec.forall { case (_, s) => s.probe < s.inlineIvf }
    val vecProbeGrowth = vec.forall { case (b, s) =>
      b.probe == 0 || s.probe / b.probe <= math.max(2.5, s.inlineIvf / b.inlineIvf) }
    val vecNdBound = math.max(2.5, math.pow(n.toDouble, 0.62))
    val vecNdOk = vec.forall { case (b, s) =>
      b.ndProbe == 0 || s.ndProbe / b.ndProbe <= vecNdBound }
    vec.foreach { case (b, s) =>
      println(f"[soak] vector_index build ${b.build}%6.2f -> ${s.build}%6.2f s; " +
        f"warm ivf probe ${b.probe}%5.2f -> ${s.probe}%5.2f s (x${s.probe / b.probe}%4.2f) vs " +
        f"inline ${b.inlineIvf}%5.2f -> ${s.inlineIvf}%5.2f s (x${s.inlineIvf / b.inlineIvf}%4.2f) " +
        f"(beats ${if (vecProbeBeats) "ok" else "FAIL"}, growth ${if (vecProbeGrowth) "ok" else "FAIL"}); " +
        f"neardup delta probe ${b.ndProbe}%5.2f -> ${s.ndProbe}%5.2f s (x${s.ndProbe / b.ndProbe}%4.2f ≤$vecNdBound%.1f " +
        f"${if (vecNdOk) "ok" else "FAIL"}) vs inline ${b.inlineNd}%5.2f -> ${s.inlineNd}%5.2f s")
    }

    // SnapshotTable MERGE pruning at scale: the 100 TB claim — a keyed
    // merge rewrites files ∝ the BATCH's key range, never ∝ the table —
    // made measurable. Build a doc_id-keyed table range-clustered into
    // ~500-row files at 1x and Nx (file SIZE held constant, so the Nx
    // table has ~Nx the files), then merge the SAME fixed 100-doc batch
    // (a contiguous id band of the base replica, present at both
    // scales) into each. Invariants: (a) the merge touches a ~constant
    // handful of files at both scales — the touched FRACTION drops ~Nx
    // as the table grows; (b) the merge wall is ~flat in table size for
    // the fixed batch (bound 2.0 — walls of 1-2 s sit at the harness
    // variance floor); (c) rows and updated content are exact. DELETE
    // shares the same partition/prune/rewrite path (SnapshotTableSpec
    // pins its pruning at unit grain).
    final case class SnapWalls(wall: Double, files: Int, touched: Int, rows: Long,
        sparseWall: Double, sparseFiles: Int, sparseTouched: Int, syncWall: Double,
        optSyncWall: Double)
    def snapshotWalls(d: String, dir: String): SnapWalls = {
      val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val nRows = docs.count()
      val filesTarget = math.max(8, (nRows / 500).toInt)
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      // the initial load pins the range-clustered file count; merges go
      // through a plain instance (AQE right-sizes the batch-sized
      // rewrite — production shape: big clustered load, small deltas)
      new incremental.SnapshotTable(spark, dir, "doc_id",
        clusterPartitions = Some(filesTarget)).create(docs)
      val tbl = new incremental.SnapshotTable(spark, dir, "doc_id")
      val v0 = tbl.currentVersion.get
      val filesBefore = tbl.history.last._4
      // the fixed batch: the base replica's 100 lowest ids (present at
      // every scale), text replaced — pure updates, count must not move
      val batch = docs.orderBy(col("doc_id")).limit(100)
        .select(col("doc_id"), lit("soak-merged payload").as("text"))
        .localCheckpoint()
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); tbl.merge(batch); (System.nanoTime() - t0) / 1e9
      }.sorted
      val v1 = tbl.currentVersion.get
      val carried = tbl.readVersion(v0).inputFiles.toSet
        .intersect(tbl.readVersion(v1).inputFiles.toSet).size
      val after = tbl.read().count()
      assert(after == nRows, s"merge must not change row count: $after vs $nRows")
      // SPARSE adversarial batch — the late-CDC-update shape the r13
      // verdict flagged: 2 keys at the OPPOSITE ends of the id domain.
      // A single [min,max]-envelope prune widens to the whole table and
      // rewrites every file in between (~all of them, growing ~Nx with
      // scale); the key-set prune must touch ~2 files at EVERY scale.
      val idB = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      val sparse = docs.filter(col("doc_id").isin(idB.getLong(0), idB.getLong(1)))
        .select(col("doc_id"), lit("soak-sparse payload").as("text"))
        .localCheckpoint()
      val vS0 = tbl.currentVersion.get
      val sparseFiles = tbl.filesAt(vS0).size
      val tsS = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); tbl.merge(sparse); (System.nanoTime() - t0) / 1e9
      }.sorted
      val sparseCarried = tbl.filesAt(vS0).toSet
        .intersect(tbl.filesAt(tbl.currentVersion.get).toSet).size
      assert(tbl.read().count() == nRows,
        "sparse merge must not change row count")
      // CHANGE-FEED mirror at scale: cold copy once, then a fixed
      // 100-doc merge on the source and a WARM sync — the feed reads
      // only the merge's churn files (manifest-diff pruning), so the
      // warm wall must be flat in table size for fixed churn.
      val mirDir = s"$dir-mirror"
      val mhp = new org.apache.hadoop.fs.Path(mirDir)
      mhp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mhp, true)
      val mirror = new incremental.SnapshotTable(spark, mirDir, "doc_id")
      incremental.SnapshotSync.sync(tbl, mirror)
      val syncBatch = docs.orderBy(col("doc_id").desc).limit(100)
        .select(col("doc_id"), lit("soak-sync payload").as("text"))
        .localCheckpoint()
      val tsSync = (1 to reps).map { _ =>
        tbl.merge(syncBatch) // same keys each rep: fixed churn
        val t0 = System.nanoTime()
        incremental.SnapshotSync.sync(tbl, mirror)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      assert(mirror.read().count() == nRows, "mirror diverged from source rows")
      assert(mirror.read().filter(col("text") === "soak-sync payload").count() == 100,
        "mirror missed the synced update")
      // sync across an optimize-ONLY interval: the rewrite-op-aware
      // feed skips the compacted mass entirely — an empty feed applied
      // as a tag-only cursor advance, so the wall must stay flat in
      // TABLE size (the pre-r15 endpoint diff re-read the whole
      // rewritten table here)
      tbl.optimize(smallBytes = Long.MaxValue)
      val t0o = System.nanoTime()
      incremental.SnapshotSync.sync(tbl, mirror)
      val optSyncWall = (System.nanoTime() - t0o) / 1e9
      assert(mirror.history.last._3 == "tag",
        s"optimize-only sync must advance tag-only, got ${mirror.history.last._3}")
      assert(mirror.read().count() == nRows, "mirror diverged after compaction sync")
      SnapWalls(ts(ts.length / 2), filesBefore, filesBefore - carried, after,
        tsS(tsS.length / 2), sparseFiles, sparseFiles - sparseCarried,
        tsSync(tsSync.length / 2), optSyncWall)
    }
    val runSnapshot = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("snapshot_scale"))
    val (snapB, snapS) =
      if (runSnapshot)
        (Some(snapshotWalls(sfDir, s"$workDir/snap_base")),
          Some(snapshotWalls(dataDir, s"$workDir/snap_soak")))
      else (None, None)
    // touched files ~constant (≤ base touched + 2 absolute — the band
    // can straddle one extra file boundary at Nx), the Nx table really
    // has ~Nx the files, and the fixed-batch wall stays flat
    val snapshotOk = (snapB, snapS) match {
      case (Some(b), Some(s)) =>
        s.touched <= b.touched + 2 &&
          s.files >= 5 * b.files &&
          (b.wall <= 0 || s.wall / b.wall <= 2.0)
      case _ => true
    }
    // sparse batch: touched files bounded by the KEY COUNT (2 keys ⇒
    // ≤ 4 files with boundary slack), not the table's file count, at
    // both scales — the set-prune contract under the adversarial shape
    val snapshotSparseOk = (snapB, snapS) match {
      case (Some(b), Some(s)) =>
        b.sparseTouched <= 4 && s.sparseTouched <= 4 &&
          (b.sparseWall <= 0 || s.sparseWall / b.sparseWall <= 2.0)
      case _ => true
    }
    // warm mirror sync: the feed reads only the fixed batch's churn
    // files, so its wall stays flat as the table grows 10x
    val snapshotSyncOk = (snapB, snapS) match {
      case (Some(b), Some(s)) => b.syncWall <= 0 || s.syncWall / b.syncWall <= 2.0
      case _ => true
    }
    // post-compaction sync: an optimize-only feed is empty (tag-only
    // mirror advance), so the wall is flat in table size — with an
    // absolute floor, since both sides are sub-second manifest work
    // where ratios are noise
    val snapshotOptSyncOk = (snapB, snapS) match {
      case (Some(b), Some(s)) =>
        s.optSyncWall <= math.max(2.0 * b.optSyncWall, 1.0)
      case _ => true
    }
    (snapB, snapS) match {
      case (Some(b), Some(s)) =>
        println(f"[soak] snapshot_merge 1x: files ${b.files}%3d touched ${b.touched}%2d " +
          f"wall ${b.wall}%5.2f s; ${n}x: files ${s.files}%3d touched ${s.touched}%2d " +
          f"wall ${s.wall}%5.2f s (touched flat, wall x${s.wall / b.wall}%4.2f ≤2.0) " +
          s"${if (snapshotOk) "ok" else "FAIL"}")
        println(f"[soak] snapshot_merge_sparse 1x: touched ${b.sparseTouched}%2d of ${b.sparseFiles}%3d " +
          f"wall ${b.sparseWall}%5.2f s; ${n}x: touched ${s.sparseTouched}%2d of ${s.sparseFiles}%3d " +
          f"wall ${s.sparseWall}%5.2f s (2-key batch: touched ≤4 at any scale) " +
          s"${if (snapshotSparseOk) "ok" else "FAIL"}")
        println(f"[soak] snapshot_mirror_sync 1x warm ${b.syncWall}%5.2f s; ${n}x warm ${s.syncWall}%5.2f s " +
          f"(fixed 100-doc churn: feed wall flat x${s.syncWall / b.syncWall}%4.2f ≤2.0) " +
          s"${if (snapshotSyncOk) "ok" else "FAIL"}")
        println(f"[soak] snapshot_mirror_optsync 1x ${b.optSyncWall}%5.2f s; ${n}x ${s.optSyncWall}%5.2f s " +
          "(optimize-only feed empty -> tag-only mirror advance, flat in table size) " +
          s"${if (snapshotOptSyncOk) "ok" else "FAIL"}")
      case _ =>
    }

    // MANIFEST-SERVED COUNT + Z-ORDER sharpness at scale: a mid-domain
    // key-range count must SCAN at most the two boundary files no
    // matter how many files the table has (the contained mass is
    // manifest arithmetic — rows minus recorded nulls), and a z-order
    // rewrite must keep a narrow secondary-column band opening a
    // minority of files at every scale (key clustering alone opens
    // ~all of them: n_chars is uncorrelated with doc_id).
    final case class ZCount(cnt: Long, scanned: Int, files: Int,
        preBand: Int, postBand: Int, postFiles: Int, wall: Double,
        bloomNoop: Boolean, bloomWall: Double)
    def zcountWalls(d: String, dir: String): ZCount = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      val docs = Tables.documents(spark, d)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val nRows = docs.count()
      val filesTarget = math.max(8, (nRows / 500).toInt)
      val tbl = new incremental.SnapshotTable(spark, dir, "doc_id",
        clusterPartitions = Some(filesTarget), statsColumns = Seq("n_chars"))
      tbl.create(docs)
      val bnd = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (lo, hi) = (bnd.getLong(0), bnd.getLong(1))
      val (q1, q3) = (lo + (hi - lo) / 4, lo + 3L * (hi - lo) / 4)
      val t0 = System.nanoTime()
      val cnt = tbl.countWhere("doc_id", Some(q1), Some(q3))
      val wall = (System.nanoTime() - t0) / 1e9
      val scanned = tbl.lastCountScanned
      assert(cnt == docs.filter(col("doc_id").between(q1, q3)).count(),
        "countWhere must equal the scan-side count")
      val files = tbl.read().inputFiles.length
      val preBandDf = tbl.readWhere("n_chars", Some(100L), Some(150L))
      val preBand = preBandDf.inputFiles.length
      val bandRows = preBandDf.count()
      tbl.optimize(zorderBy = Seq("doc_id", "n_chars"))
      val post = tbl.readWhere("n_chars", Some(100L), Some(150L))
      assert(post.count() == bandRows, "z-order must not change band contents")
      // KEY BLOOMS at scale: an evens-only store, deleted with
      // scattered IN-RANGE odd keys — range pruning alone would rewrite
      // the holding files at every scale; the bloom proves absence and
      // the delete must stay a VERSION NO-OP with a wall that is
      // manifest+bloom work, flat in table size
      val btbl = new incremental.SnapshotTable(spark, s"$dir-bloom", "doc_id",
        clusterPartitions = Some(filesTarget), keyBloomBits = 16384)
      btbl.create(docs.filter(col("doc_id") % 2 === 0))
      val bv = btbl.currentVersion.get
      val absentOdd = docs.filter(col("doc_id") % 2 === 1)
        .filter(col("doc_id") % 101 === 3).select("doc_id").localCheckpoint()
      val t0bl = System.nanoTime()
      val bloomNoop = btbl.delete(absentOdd) == bv
      val bloomWall = (System.nanoTime() - t0bl) / 1e9
      ZCount(cnt, scanned, files, preBand, post.inputFiles.length,
        tbl.read().inputFiles.length, wall, bloomNoop, bloomWall)
    }
    val runZcount = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("snapshot_zcount"))
    val (zcB, zcS) =
      if (runZcount)
        (Some(zcountWalls(sfDir, s"$workDir/zc_base")),
          Some(zcountWalls(dataDir, s"$workDir/zc_soak")))
      else (None, None)
    val zcountOk = (zcB, zcS) match {
      case (Some(bb), Some(ss)) =>
        bb.scanned <= 2 && ss.scanned <= 2 && ss.files >= 5 * bb.files &&
          bb.postBand * 2 <= bb.postFiles && ss.postBand * 2 <= ss.postFiles &&
          bb.bloomNoop && ss.bloomNoop &&
          ss.bloomWall <= math.max(2.0 * bb.bloomWall, 1.0)
      case _ => true
    }
    (zcB, zcS) match {
      case (Some(bb), Some(ss)) =>
        println(f"[soak] snapshot_zcount 1x: countWhere scanned ${bb.scanned}%2d of ${bb.files}%3d files, " +
          f"wall ${bb.wall}%5.2f s; ${n}x: scanned ${ss.scanned}%2d of ${ss.files}%3d, wall ${ss.wall}%5.2f s " +
          f"(boundary-only at any scale); z-order n_chars band ${bb.preBand}->${bb.postBand} " +
          f"of ${bb.postFiles} files at 1x, ${ss.preBand}->${ss.postBand} of ${ss.postFiles} at ${n}x; " +
          f"bloom absent-key delete no-op=${bb.bloomNoop}/${ss.bloomNoop} " +
          f"wall ${bb.bloomWall}%4.2f->${ss.bloomWall}%4.2f s " +
          s"${if (zcountOk) "ok" else "FAIL"}")
      case _ =>
    }

    // The flagship-path twin of the sparse-batch invariant: an
    // incremental run whose delta carries ONE backdated rental edit
    // (the reference's own late-update case, etl:141-145) plus one
    // fresh rental — affected weeks at opposite ends of a multi-year
    // summary. The summary is re-clustered into a pinned multi-file
    // layout first (the shape a 100 TB summary would have); the run's
    // merge must rewrite only the files holding the two touched weeks.
    def incrementalBackdated(d: String, dir: String): (Double, Int, Int) = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      // normalize timestamp encodings up front (the source may carry
      // TIMESTAMP_NTZ; UTC-pinned session makes the cast the identity)
      // so the edit rows union type-cleanly with the source rows
      val rental = Seq("rental_date", "return_date", "last_update")
        .foldLeft(Tables.rental(spark, d))((df, c) =>
          df.withColumn(c, col(c).cast("timestamp")))
      incremental.IncrementalWeeklySummary.run(spark, rental, dir)
      val sumDir = s"$dir/weekly_rental_summary"
      val tbl = new incremental.SnapshotTable(spark, sumDir, "week_beginning")
      val wm = tbl.currentTag.get // the watermark rides the re-cluster commit
      new incremental.SnapshotTable(spark, sumDir, "week_beginning",
        clusterPartitions = Some(16)).create(tbl.read(), tag = wm)
      val vPre = tbl.currentVersion.get
      val filesBefore = tbl.filesAt(vPre).size
      val backId = rental.orderBy(col("rental_date")).limit(1)
        .select("rental_id").head.getLong(0)
      val newLu = new java.sql.Timestamp(
        rental.agg(max(col("last_update"))).head.getTimestamp(0).getTime + 3600000L)
      // the backdated edit REPLACES its source row (CDC latest-version
      // semantics); the fresh rental lands in the newest week
      val editBack = rental.filter(col("rental_id") === backId)
        .select(col("rental_id"), col("rental_date"),
          (col("rental_date") + expr("INTERVAL 3 DAYS")).cast("timestamp").as("return_date"),
          lit(newLu).as("last_update"))
      val editFresh = rental.orderBy(col("rental_date").desc).limit(1)
        .select((col("rental_id") + 1000000000L).as("rental_id"), col("rental_date"),
          lit(null).cast("timestamp").as("return_date"), lit(newLu).as("last_update"))
      val source = rental.filter(col("rental_id") =!= backId)
        .unionByName(editBack).unionByName(editFresh).localCheckpoint()
      val t0 = System.nanoTime()
      val report = incremental.IncrementalWeeklySummary.run(spark, source, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      assert(report.processed && report.affectedWeeks >= 2,
        s"backdated delta must process ≥2 affected weeks, got $report")
      val carried = tbl.filesAt(vPre).toSet
        .intersect(tbl.filesAt(tbl.currentVersion.get).toSet).size
      (wall, filesBefore, filesBefore - carried)
    }
    val runIncSparse = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("incremental_sparse"))
    val incSparse =
      if (runIncSparse)
        Some((incrementalBackdated(sfDir, s"$workDir/inc_sparse_base"),
          incrementalBackdated(dataDir, s"$workDir/inc_sparse_soak")))
      else None
    val incSparseOk = incSparse.forall { case ((_, bf, bt), (_, sf2, st2)) =>
      bt <= 5 && st2 <= 5 && bf >= 8 && sf2 >= 8
    }
    incSparse.foreach { case ((bw, bf, bt), (sw, sf2, st2)) =>
      println(f"[soak] incremental_backdated 1x: touched $bt%2d of $bf%3d files wall $bw%5.2f s; " +
        f"${n}x: touched $st2%2d of $sf2%3d wall $sw%5.2f s (backdated+fresh delta: touched ≤5) " +
        s"${if (incSparseOk) "ok" else "FAIL"}")
    }

    // STREAMING SOURCE at scale + MERGE-ON-READ FORGET at scale, one
    // store: (a) a stream over the table's CDC feed drains FIXED churn
    // — never the table — even across a mid-stream FULL compaction
    // (the flood shape SnapshotStreamSourceSpec pins at 1x, here
    // measured at Nx); (b) a scattered 10-key forget on a
    // deletion-vector handle rewrites ZERO data files at both scales
    // with a flat wall (the GDPR shape: before DVs this cost one
    // carrier-file rewrite per doomed key's file).
    final case class StreamDv(drained: Long, streamWall: Double,
        dvRewrites: Int, dvWall: Double, files: Int, rows: Long)
    def streamDvWalls(d: String, dir: String): StreamDv = {
      val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val nRows = docs.count()
      val filesTarget = math.max(8, (nRows / 500).toInt)
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      new incremental.SnapshotTable(spark, dir, "doc_id",
        clusterPartitions = Some(filesTarget)).create(docs)
      val tbl = new incremental.SnapshotTable(spark, dir, "doc_id",
        deleteVectorMaxRows = 1000L)
      val v0 = tbl.currentVersion.get
      val qn = "soak_feed_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val q = spark.readStream
        .format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", dir).option("key", "doc_id")
        .option("startingVersion", v0.toString)
        .load()
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      val streamWall = try {
        val churnA = docs.orderBy(col("doc_id")).limit(100)
          .select(col("doc_id"), lit("soak-stream payload A").as("text"))
          .localCheckpoint()
        val churnB = docs.orderBy(col("doc_id")).limit(100)
          .select(col("doc_id"), lit("soak-stream payload B").as("text"))
          .localCheckpoint()
        val t0 = System.nanoTime()
        tbl.merge(churnA)
        q.processAllAvailable() // batch 1: churn A
        tbl.optimize(smallBytes = Long.MaxValue) // FULL rewrite mid-stream
        tbl.merge(churnB)
        q.processAllAvailable() // batch 2 spans the compaction: churn B only
        (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      val drained = spark.table(qn).count()
      spark.catalog.dropTempView(qn)
      // the forget: 10 ids scattered across the key domain
      val doomed = docs.filter(col("doc_id") % 997 === 1)
        .orderBy(col("doc_id")).limit(10).select("doc_id").localCheckpoint()
      val nDoomed = doomed.count()
      val t1 = System.nanoTime()
      tbl.delete(doomed)
      val dvWall = (System.nanoTime() - t1) / 1e9
      val after = tbl.countRows()
      assert(after == nRows - nDoomed,
        s"DV forget row count drifted: $after vs ${nRows - nDoomed}")
      StreamDv(drained, streamWall, tbl.lastRewrites, dvWall,
        tbl.history.last._4, nRows)
    }
    val runStreamDv = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("stream_dv_scale"))
    val (sdB, sdS) =
      if (runStreamDv)
        (Some(streamDvWalls(sfDir, s"$workDir/streamdv_base")),
          Some(streamDvWalls(dataDir, s"$workDir/streamdv_soak")))
      else (None, None)
    // drained rows == churn (2×100 updates) at BOTH scales — a feed
    // that flooded on the compaction would drain ~the table instead;
    // stream wall flat-ish with an absolute floor (each drain is a
    // full streaming-engine round trip, seconds of fixed overhead)
    val streamDrainOk = (sdB, sdS) match {
      case (Some(b), Some(s)) =>
        b.drained == 200 && s.drained == 200 &&
          s.streamWall <= math.max(2.0 * b.streamWall, 10.0)
      case _ => true
    }
    // the scattered forget: ZERO files rewritten at both scales, wall
    // flat (manifest + sidecar write, not carrier-file rewrites)
    val dvForgetOk = (sdB, sdS) match {
      case (Some(b), Some(s)) =>
        b.dvRewrites == 0 && s.dvRewrites == 0 &&
          s.dvWall <= math.max(2.0 * b.dvWall, 5.0)
      case _ => true
    }
    (sdB, sdS) match {
      case (Some(b), Some(s)) =>
        println(f"[soak] stream_drain 1x: drained ${b.drained}%4d of ${b.rows}%7d rows " +
          f"wall ${b.streamWall}%5.2f s; ${n}x: drained ${s.drained}%4d of ${s.rows}%8d " +
          f"wall ${s.streamWall}%5.2f s (fixed churn across a mid-stream FULL compaction) " +
          s"${if (streamDrainOk) "ok" else "FAIL"}")
        println(f"[soak] dv_forget 1x: rewrites ${b.dvRewrites}%2d of ${b.files}%3d files " +
          f"wall ${b.dvWall}%5.2f s; ${n}x: rewrites ${s.dvRewrites}%2d of ${s.files}%3d " +
          f"wall ${s.dvWall}%5.2f s (scattered 10-key forget: deletion vectors, zero rewrites) " +
          s"${if (dvForgetOk) "ok" else "FAIL"}")
      case _ =>
    }

    // RESOLVE AT HISTORY DEPTH: a long-lived store (a streaming sink
    // commits every micro-batch) retains hundreds of versions — the
    // r15 verdict's scale-killer was every resolve parsing the WHOLE
    // history. Stage a 20-version and a 200-version store (tag-only
    // commits: manifest churn without data churn) and assert a COLD
    // handle's first read loads O(1) manifest files with a flat wall —
    // depth-independence is what makes the per-trigger streaming
    // getOffset safe on a deep store. Green here means the manifest
    // checkpoint rung (_last_checkpoint) is not yet needed.
    def resolveDepth(dir: String, versions: Int): (Double, Long) = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      val writer = new incremental.SnapshotTable(spark, dir, "doc_id")
      writer.create(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).limit(500))
      (1 to versions).foreach(i => writer.setTag(s"cursor-$i"))
      val reader = new incremental.SnapshotTable(spark, dir, "doc_id")
      val t0 = System.nanoTime()
      reader.read().count()
      ((System.nanoTime() - t0) / 1e9, reader.manifestReads)
    }
    val runDepth = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("resolve_depth"))
    val depth =
      if (runDepth)
        Some((resolveDepth(s"$workDir/depth_base", 20),
          resolveDepth(s"$workDir/depth_soak", 200)))
      else None
    val depthOk = depth.forall { case ((bw, br), (sw, sr)) =>
      br <= 3 && sr <= 3 && sw <= math.max(2.0 * bw, 2.0)
    }
    depth.foreach { case ((bw, br), (sw, sr)) =>
      println(f"[soak] resolve_depth 21 versions: $br%2d manifest reads wall $bw%5.2f s; " +
        f"201 versions: $sr%2d reads wall $sw%5.2f s (cold resolve O(1) in history depth) " +
        s"${if (depthOk) "ok" else "FAIL"}")
    }

    // CONCURRENT WRITERS: the commit protocol's races are spec-staged
    // single-threaded (lost-update, tombstoned retraction); this row
    // runs N REAL uncoordinated writer threads — merge + delete +
    // optimize interleaved, each op retried on
    // ConcurrentModificationException per the documented contract —
    // and asserts a LINEARIZABLE history: every version's parent chain
    // intact, every op that returned success committed exactly once
    // (unique tags), and the final content EQUALS a serial replay of
    // the committed ops in commit order on a fresh table.
    final case class ConcW(wall: Double, commits: Int, retries: Int,
        chainOk: Boolean, allApplied: Boolean, serialOk: Boolean)
    def concurrentWriters(d: String, dir: String): ConcW = {
      val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      new incremental.SnapshotTable(spark, dir, "doc_id",
        clusterPartitions = Some(8)).create(docs)
      val writers = 4; val opsPer = 6
      // plus ONE pure-SQL writer: MERGE INTO statements through the
      // catalog's row-level DML — the statement-grain CAS pin must make
      // SQL merges first-class citizens of the same optimistic-
      // concurrency protocol (a racing commit fails the statement with
      // the store's ConcurrentModificationException; the thread
      // retries, exactly like the Scala ops)
      val sqlOps = 4
      // deterministic payloads, reproducible from the commit tag alone:
      // merge bands overlap the NEXT writer's delete band (contention);
      // the SQL writer's band (2M+) is DISJOINT from every other op, so
      // its merges commute and the replay can apply them positionally
      def mergeBatch(w: Int, k: Int) =
        spark.range(1000000L + w * 1000 + k * 20, 1000000L + w * 1000 + k * 20 + 10)
          .select(col("id").as("doc_id"), lit(s"cw-w$w-k$k").as("text"))
      def deleteKeys(w: Int, k: Int) = {
        val o = ((w + 1) % writers) * 1000
        spark.range(1000000L + o + k * 20, 1000000L + o + k * 20 + 5)
          .select(col("id").as("doc_id"))
      }
      def sqlBatch(k: Int) =
        spark.range(2000000L + k * 20, 2000000L + k * 20 + 10)
          .select(col("id").as("doc_id"), lit(s"cw-sql-k$k").as("text"))
      val retriesC = new java.util.concurrent.atomic.AtomicInteger(0)
      val boom = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val t0 = System.nanoTime()
      def retrying(w: Int, k: Int)(op: => Unit): Unit = {
        var done = false; var tries = 0
        while (!done) {
          try { op; done = true }
          catch {
            case e: Throwable
                if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
                  .exists(_.isInstanceOf[java.util.ConcurrentModificationException]) =>
              tries += 1; retriesC.incrementAndGet()
              if (tries > 300) throw new IllegalStateException(
                s"writer $w op $k starved after $tries retries")
              Thread.sleep(3L + scala.util.Random.nextInt(25))
          }
        }
      }
      val scalaThreads = (0 until writers).map { w =>
        val t = new Thread(() => try {
          val h = new incremental.SnapshotTable(spark, dir, "doc_id")
          (0 until opsPer).foreach { k =>
            val tag = s"cw:w$w:k$k"
            retrying(w, k) {
              (k % 3) match {
                case 0 => h.merge(mergeBatch(w, k), tag = s"$tag:merge")
                case 1 => h.delete(deleteKeys(w, k), tag = s"$tag:delete")
                case _ => h.optimize(smallBytes = 1L << 20)
              }
            }
          }
        } catch { case e: Throwable => boom.compareAndSet(null, e) })
        t.start(); t
      }
      val sqlThread = new Thread(() => try {
        (0 until sqlOps).foreach { k =>
          val vn = s"cw_sql_src_$k"
          sqlBatch(k).createOrReplaceTempView(vn)
          try retrying(writers, k) {
            spark.sql(
              s"""MERGE INTO graft.`$dir` t USING $vn s ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          } finally spark.catalog.dropTempView(vn)
        }
      } catch { case e: Throwable => boom.compareAndSet(null, e) })
      sqlThread.start()
      val threads = scalaThreads :+ sqlThread
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      if (boom.get() != null) throw boom.get()
      val h = new incremental.SnapshotTable(spark, dir, "doc_id")
      val hist = h.history
      val chainOk = hist.sliding(2).forall {
        case Seq(p, c) => c._2 == p._1
        case _ => true
      }
      // every merge/delete op's tag appears EXACTLY once (a no-op
      // delete commits as a tag-only version — still traced). Optimize
      // commits CARRY the previous tag forward by design (the tag is an
      // application cursor), so they don't count as an op application.
      val tagByV = hist.map(x => x._1 -> h.tagAt(x._1).getOrElse("")).toMap
      val expected = for (w <- 0 until writers; k <- 0 until opsPer if k % 3 != 2)
        yield s"cw:w$w:k$k:" + (if (k % 3 == 0) "merge" else "delete")
      val allApplied = expected.forall(t =>
        hist.count(x => tagByV(x._1) == t && x._3 != "optimize") == 1) &&
        // each SQL MERGE landed exactly once: sqlOps "delta" commits
        hist.count(_._3 == "delta") == sqlOps
      // serial replay in commit order: optimize/tag commits are
      // content-neutral and skip; merge/delete re-derive their payload
      // from the tag; SQL "delta" commits apply the sql batches
      // positionally — their band is disjoint from every other op and
      // each key belongs to exactly ONE batch, so the merges commute
      // and position stands in for the (tagless) statement identity
      val rdir = s"$dir-replay"
      val rp = new org.apache.hadoop.fs.Path(rdir)
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
      val replay = new incremental.SnapshotTable(spark, rdir, "doc_id",
        clusterPartitions = Some(8))
      replay.create(docs)
      val OpTag = """cw:w(\d+):k(\d+):(merge|delete)""".r
      var sqlSeen = 0
      hist.drop(1).foreach { case (v, _, op, _, _) =>
        (op, tagByV(v)) match {
          case ("merge", OpTag(w, k, _)) =>
            replay.merge(mergeBatch(w.toInt, k.toInt))
          case ("delete", OpTag(w, k, _)) =>
            replay.delete(deleteKeys(w.toInt, k.toInt))
          case ("delta", _) =>
            replay.merge(sqlBatch(sqlSeen)); sqlSeen += 1
          case _ => () // optimize / tag-only: content-neutral
        }
      }
      val serialOk = h.read().exceptAll(replay.read()).isEmpty &&
        replay.read().exceptAll(h.read()).isEmpty
      ConcW(wall, hist.size - 1, retriesC.get(), chainOk, allApplied, serialOk)
    }
    val runConc = sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains("concurrent_writers"))
    val conc =
      if (runConc)
        Some((concurrentWriters(sfDir, s"$workDir/conc_base"),
          concurrentWriters(dataDir, s"$workDir/conc_soak")))
      else None
    val concOk = conc.forall { case (b, s) =>
      b.chainOk && b.allApplied && b.serialOk &&
        s.chainOk && s.allApplied && s.serialOk &&
        s.wall <= math.max(3.0 * b.wall, 120.0)
    }
    conc.foreach { case (b, s) =>
      println(f"[soak] concurrent_writers 1x: ${b.commits}%2d commits ${b.retries}%3d retries " +
        f"wall ${b.wall}%5.1f s; ${n}x: ${s.commits}%2d commits ${s.retries}%3d retries " +
        f"wall ${s.wall}%5.1f s (4 uncoordinated threads; linearizable history + serial-replay equality) " +
        s"${if (concOk) "ok" else "FAIL"}")
    }

    val failed = results.filterNot(r => r.rowsOk && r.sumOk && r.timeOk).map(_.c.name) ++
      (if (recallOk) Nil else Seq("lsh_recall_vs_exact")) ++
      (if (isomorphismOk) Nil else Seq("within_replica_truth")) ++
      (if (lshWithinOk) Nil else Seq("lsh_within_band")) ++
      (if (crTimeOk && crStages.forall(_._4)) Nil else Seq("corpus_run")) ++
      (if (corpusIndexedOk) Nil else Seq("corpus_run_indexed")) ++
      (if (ingestProbeOk) Nil else Seq("ingest_probe_flat")) ++
      (if (ingestAbsorbOk) Nil else Seq("ingest_absorb_flat")) ++
      (if (ingestBeatsInline) Nil else Seq("ingest_beats_inline")) ++
      (if (vecProbeBeats) Nil else Seq("vector_probe_beats_inline")) ++
      (if (vecProbeGrowth) Nil else Seq("vector_probe_growth")) ++
      (if (vecNdOk) Nil else Seq("vector_neardup_delta_flat")) ++
      (if (snapshotOk) Nil else Seq("snapshot_merge_pruning")) ++
      (if (snapshotSparseOk) Nil else Seq("snapshot_merge_sparse")) ++
      (if (snapshotSyncOk) Nil else Seq("snapshot_mirror_sync")) ++
      (if (snapshotOptSyncOk) Nil else Seq("snapshot_mirror_optsync")) ++
      (if (zcountOk) Nil else Seq("snapshot_zcount")) ++
      (if (incSparseOk) Nil else Seq("incremental_backdated")) ++
      (if (streamDrainOk) Nil else Seq("stream_drain")) ++
      (if (dvForgetOk) Nil else Seq("dv_forget")) ++
      (if (depthOk) Nil else Seq("resolve_depth")) ++
      (if (concOk) Nil else Seq("concurrent_writers"))

    val md = new StringBuilder
    md ++= s"# SOAK — ${n}x scale soak of sf0.1\n\n"
    md ++= s"Deterministic ${n}x inflation of `$sfDir` (id-offset replicas; seeded-alphabet-\n"
    md ++= s"bijection decorrelated text, permutation∘sign-flip (orthogonal) decorrelated\n"
    md ++= s"embeddings, single-copy dims — see `graft.Soak` doc).\n"
    md ++= s"Timings are medians of $reps noop-sink reps on local[${spark.sparkContext.defaultParallelism}]; bound t(${n}x) ≤ ${maxGrowth.toInt}·t(1x).\n\n"
    md ++= "| query | rows 1x | rows ${n}x | rule | rows ok | t 1x (s) | t ${n}x (s) | ratio | time ok |\n".replace("${n}", n.toString)
    md ++= "|---|---|---|---|---|---|---|---|---|\n"
    results.foreach { r =>
      md ++= f"| ${r.c.name} | ${r.rowsBase} | ${r.rowsSoak} | ${r.rowsLabel} | ${if (r.rowsOk && r.sumOk) "yes" else "**FAIL**"} " +
        f"| ${r.tBase}%.2f | ${r.tSoak}%.2f | ${r.tSoak / r.tBase}%.2f | ${if (r.timeOk) "yes" else "**FAIL**"} |\n"
    }
    if (runLshRecall) {
      md ++= f"\nLSH recall vs exact arm (same inflated data): 1x $recallBase%.3f ($hitB/$truthB) -> ${n}x $recallSoak%.3f ($hitS/$truthS) — ${if (recallOk) "ok" else "**FAIL**"}\n"
      md ++= f"\nWithin-replica exact truth at ${n}x: $withinTruthS vs ${n}×$truthB expected (the replica-isomorphism assertion; perm∘sign-flip is orthogonal, so per-replica cosines are preserved to fp) — ${if (isomorphismOk) "ok" else "**FAIL**"}. LSH within-replica pairs $lshWithinS vs [0.5,1.6]×${n}×$lshWithinB — ${if (lshWithinOk) "ok" else "**FAIL**"}.\n"
      md ++= f"\nCross-replica pairs at ${n}x: $crossS (${if (truthS == 0) 0.0 else 100.0 * crossS / truthS}%.1f%% of the truth set) — the metric space's chance tail, reported not asserted: at minCos=0.45 in 64 dims the chance-collision rate between unrelated vectors is ~1e-4, and the ~N²/2 cross-replica pair population makes O(10^4) such pairs unavoidable under ANY orthogonal decorrelation (a real ${n}x corpus behaves the same — pair count at a fixed loose threshold is quadratic in the chance regime).\n"
    }
    if (runIngest) {
      md ++= f"\nPersisted ingest state (IngestIndex, shingled — the probe bundle includes the r17 exact-jaccard delta probe over the persisted shp/ postings), SAME sf0.1 delta against a 1x- and a ${n}x-corpus state: "
      md ++= f"warm probe $ipB%.2f s -> $ipS%.2f s (x${ipS / ipB}%.2f, bound 2.0 — ${if (ingestProbeOk) "ok" else "**FAIL**"}); "
      md ++= f"absorb $iaB%.2f s -> $iaS%.2f s (x${iaS / iaB}%.2f, bound 1.5, sized above the measured sub-second variance floor — ${if (ingestAbsorbOk) "ok" else "**FAIL**"}); "
      md ++= f"inline rebuild twins $inB%.2f s -> $inS%.2f s (indexed probe beats inline at ${n}x — ${if (ingestBeatsInline) "ok" else "**FAIL**"}). "
      md ++= "Absorb is an LSM segment append (work ∝ batch); the probe keeps one columnar index scan (its documented floor).\n"
    }
    vec.foreach { case (b, s) =>
      md ++= f"\nPersisted VECTOR index (r19 `VectorIndex` — frozen IVF quantizer + cid-keyed cells + frozen-geometry LSH postings), 1x- vs ${n}x-corpus indexes: "
      md ++= f"build ${b.build}%.2f s -> ${s.build}%.2f s (amortized — paid once, not per query); "
      md ++= f"warm IVF probe (fixed replica-0 queries) ${b.probe}%.2f s -> ${s.probe}%.2f s (x${s.probe / b.probe}%.2f) vs the inline retrain-per-call arm ${b.inlineIvf}%.2f s -> ${s.inlineIvf}%.2f s (x${s.inlineIvf / b.inlineIvf}%.2f) — indexed beats inline at ${n}x ${if (vecProbeBeats) "ok" else "**FAIL**"}, grows no faster ${if (vecProbeGrowth) "ok" else "**FAIL**"} (the probe reads nprobe/nlist of the corpus; the inline arm re-trains Lloyd + re-assigns everything per call); "
      md ++= f"constant-recall LSH near-dup probe, SAME fixed sf0.1 delta: ${b.ndProbe}%.2f s -> ${s.ndProbe}%.2f s (x${s.ndProbe / b.ndProbe}%.2f ≤$vecNdBound%.1f ${if (vecNdOk) "ok" else "**FAIL**"} — readKeys-pruned postings; the bound follows the n^0.62 constant-recall law, floored at the 2.5 variance floor) vs inline re-band-the-corpus ${b.inlineNd}%.2f s -> ${s.inlineNd}%.2f s.\n"
    }
    cyc.foreach { case (b, s) =>
      md ++= s"\nIndexed CorpusRun admission (persisted `IngestIndex` state; medians of $reps for inline/warm):\n\n"
      md ++= "| scale | inline funnel (s) | cold build run (s) | warm re-run (s) | warm < inline | memo/cache engaged | stages ≡ cold | delta batch (s) |\n"
      md ++= "|---|---|---|---|---|---|---|---|\n"
      md ++= f"| 1x | ${b.inline}%.2f | ${b.cold}%.2f | ${b.warm}%.2f | ${if (b.warm < b.inline) "yes" else "**FAIL**"} | ${if (b.memoHit && b.cacheHit) "yes" else "**FAIL**"} | ${if (b.stagesMatch) "yes" else "**FAIL**"} | ${b.delta}%.2f |\n"
      md ++= f"| ${n}x | ${s.inline}%.2f | ${s.cold}%.2f | ${s.warm}%.2f | ${if (s.warm < s.inline) "yes" else "**FAIL**"} | ${if (s.memoHit && s.cacheHit) "yes" else "**FAIL**"} | ${if (s.stagesMatch) "yes" else "**FAIL**"} | ${s.delta}%.2f |\n"
      md ++= f"\nThe SAME fresh-content 10%%-of-sf0.1 delta batch admits+absorbs against the 1x and ${n}x states: ${b.delta}%.2f s -> ${s.delta}%.2f s (x${s.delta / b.delta}%.2f, bound 2.0 — work ∝ batch, not corpus). Warm re-runs replay the memoized pair frame and read signature records from the sh index (asserted from run stdout), and reproduce the cold run's funnel counts exactly.\n"
    }
    (snapB, snapS) match {
      case (Some(b), Some(s)) =>
        md ++= s"\nSnapshotTable MERGE pruning at ${n}x (the 100 TB upsert claim, measured): a doc_id-keyed "
        md ++= s"table range-clustered into ~500-row files (1x: ${b.files} files, ${n}x: ${s.files}), merged with the SAME fixed "
        md ++= f"100-doc batch (one contiguous id band). Files rewritten: ${b.touched} at 1x -> ${s.touched} at ${n}x "
        md ++= f"(∝ the batch's key range, NOT the table — the touched fraction fell ${b.touched.toDouble / b.files * 100}%.0f%% -> ${s.touched.toDouble / s.files * 100}%.0f%%); "
        md ++= f"merge wall ${b.wall}%.2f s -> ${s.wall}%.2f s (x${s.wall / b.wall}%.2f, bound 2.0 — flat in table size for a fixed batch) — ${if (snapshotOk) "ok" else "**FAIL**"}. "
        md ++= "Every untouched file carries forward by manifest reference; DELETE shares the same prune/rewrite path.\n"
        md ++= f"\nSPARSE adversarial batch on the same tables (2 keys at opposite ends of the id domain — the late-CDC shape): "
        md ++= f"files rewritten ${b.sparseTouched} of ${b.sparseFiles} at 1x -> ${s.sparseTouched} of ${s.sparseFiles} at ${n}x; wall ${b.sparseWall}%.2f s -> ${s.sparseWall}%.2f s. "
        md ++= f"Touched is bounded by the KEY COUNT (≤4 with boundary slack), not the table — a single [min,max]-envelope prune would rewrite ~all ${s.sparseFiles} files here — ${if (snapshotSparseOk) "ok" else "**FAIL**"}.\n"
        md ++= f"\nChange-feed MIRROR (SnapshotSync over changesKeyed): after a fixed 100-doc merge on the source, the warm sync applies the feed in one atomic commit at ${b.syncWall}%.2f s (1x) -> ${s.syncWall}%.2f s (${n}x) — manifest-diff pruning reads only the merge's churn files, so following a 10x table costs the same as following the 1x table for the same churn — ${if (snapshotSyncOk) "ok" else "**FAIL**"}.\n"
      case _ =>
    }
    (zcB, zcS) match {
      case (Some(bb), Some(ss)) =>
        md ++= f"\nMANIFEST-SERVED COUNT at scale (countWhere): a mid-domain key-range count scanned ${bb.scanned} of ${bb.files} files at 1x and ${ss.scanned} of ${ss.files} at ${n}x (wall ${bb.wall}%.2f s -> ${ss.wall}%.2f s) — only BOUNDARY files open; the contained mass is manifest arithmetic (rows − recorded nulls), so COUNT cost is flat in table size — ${if (zcountOk) "ok" else "**FAIL**"}.\n"
        md ++= f"\nZ-ORDER sharpness at scale (optimize(zorderBy = doc_id, n_chars)): a narrow n_chars band (uncorrelated with the key) opened ${bb.preBand} of ${bb.files} files under key clustering and ${bb.postBand} of ${bb.postFiles} after the z-order rewrite at 1x; ${ss.preBand} of ${ss.files} -> ${ss.postBand} of ${ss.postFiles} at ${n}x — multi-dimension locality holds as the table grows, band contents bit-identical — ${if (zcountOk) "ok" else "**FAIL**"}.\n"
        md ++= f"\nKEY BLOOMS at scale (keyBloomBits=16384 on an evens-only store): a scattered IN-RANGE absent-key delete — the shape range pruning can never skip — stays a VERSION NO-OP at both scales (no-op ${bb.bloomNoop}/${ss.bloomNoop}) at ${bb.bloomWall}%.2f s (1x) -> ${ss.bloomWall}%.2f s (${n}x): manifest + bloom arithmetic, flat in table size — ${if (zcountOk) "ok" else "**FAIL**"}.\n"
      case _ =>
    }
    (sdB, sdS) match {
      case (Some(b), Some(s)) =>
        md ++= f"\nSTREAMING SOURCE at scale (SnapshotTableProvider feed → memory sink): two fixed 100-doc merges with a FULL compaction between them drained ${b.drained} rows of a ${b.rows}-row table at 1x and ${s.drained} of ${s.rows} at ${n}x (stream wall ${b.streamWall}%.2f s -> ${s.streamWall}%.2f s) — the rewrite-op-aware feed delivers churn, never the compacted mass, so a consumer of a 10x store reads the same bytes for the same churn — ${if (streamDrainOk) "ok" else "**FAIL**"}.\n"
        md ++= f"\nMERGE-ON-READ FORGET at scale (deleteVectorMaxRows handle): a scattered 10-key delete rewrote ${b.dvRewrites} of ${b.files} data files at 1x and ${s.dvRewrites} of ${s.files} at ${n}x (wall ${b.dvWall}%.2f s -> ${s.dvWall}%.2f s) — deletion vectors turn the GDPR forget into sidecar writes; counts stay manifest-exact — ${if (dvForgetOk) "ok" else "**FAIL**"}.\n"
      case _ =>
    }
    depth.foreach { case ((bw, br), (sw, sr)) =>
      md ++= f"\nRESOLVE AT HISTORY DEPTH (newest-first + validated parse cache): a COLD handle's first read on a 21-version store loaded $br manifest files ($bw%.2f s) and on a 201-version store $sr ($sw%.2f s) — resolve is O(1) in history depth, so a per-trigger streaming getOffset on a deep store costs at most one listing + one parse; the manifest-checkpoint rung stays unnecessary — ${if (depthOk) "ok" else "**FAIL**"}.\n"
    }
    conc.foreach { case (b, s) =>
      md ++= f"\nCONCURRENT WRITERS (4 uncoordinated Scala threads × 6 ops — merge/delete/optimize interleaved — PLUS one pure-SQL thread issuing 4 MERGE INTO statements through the catalog's row-level DML, every op retried on ConcurrentModificationException, the SQL statements included via their statement-grain CAS pin): ${b.commits} commits with ${b.retries} retried attempts at 1x (${b.wall}%.1f s) and ${s.commits} with ${s.retries} at ${n}x (${s.wall}%.1f s) — parent chain intact, every successful op committed exactly once (unique commit tags; exactly 4 delta commits), and the final content equals a SERIAL REPLAY of the committed ops in commit order — the at-most-one-success protocol holds under real thread interleaving, SQL and Scala writers alike — ${if (concOk) "ok" else "**FAIL**"}.\n"
    }
    incSparse.foreach { case ((bw, bf, bt), (sw, sf2, st2)) =>
      md ++= f"\nIncremental pipeline, backdated-edit delta (flagship path; summary re-clustered into a pinned multi-file layout): "
      md ++= f"a 2-row delta (one backdated return edit in the earliest week + one fresh rental in the newest) touches $bt of $bf summary files at 1x and $st2 of $sf2 at ${n}x; wall $bw%.2f s -> $sw%.2f s. "
      md ++= f"The two affected weeks span the whole key domain, so envelope pruning would rewrite every file — ${if (incSparseOk) "ok" else "**FAIL**"}.\n"
    }
    md ++= f"\nCorpusRun end-to-end: ${crBase}%.2f s -> ${crSoak}%.2f s (x${crRatio}%.2f, bound ${maxGrowth.toInt}) — ${if (crTimeOk) "ok" else "**FAIL**"}\n\n"
    md ++= "| stage | docs 1x | docs ${n}x | ok |\n|---|---|---|---|\n".replace("${n}", n.toString)
    crStages.foreach { case (st, b, s, ok) =>
      md ++= s"| $st | $b | $s | ${if (ok) "yes" else "**FAIL**"} |\n"
    }
    md ++= (if (failed.isEmpty) "\nAll scale invariants green.\n"
      else s"\nFAILED: ${failed.mkString(", ")}\n")
    Files.writeString(Paths.get(mdPath), md.toString)
    println(s"[soak] report -> $mdPath${if (failed.isEmpty) "" else s"  FAILED: ${failed.mkString(",")}"}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
