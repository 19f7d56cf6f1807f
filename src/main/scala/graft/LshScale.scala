package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.VectorOps

/** Embedding-LSH scale evidence past ×10 (SOAK.md section + SURVEY §6
  * crossover row): measures, on Soak-style perm∘sign-flip inflated
  * embeddings,
  *
  *  1. the BATCH all-pairs arm (`nearDupEmbeddingLsh`) at growing N —
  *     super-linear by design (n^(1+ρ), ρ ≈ 0.62 at cos 0.45: the
  *     Indyk–Motwani constant-recall cost); the fitted wall exponent
  *     and its ×100 extrapolation are the documented law;
  *  2. the DELTA arm (`nearDupEmbeddingIncrementalLsh`) with a FIXED
  *     batch against corpora up to ×100 — its candidate work is
  *     ∝ batch, so wall must grow at most ~linearly (the corpus-side
  *     banding scan, which a persisted index would also amortize);
  *  3. the large×large `knnJoinLsh` with a fixed query side — auto
  *     planes hold per-query candidates ~constant, so ~linear too;
  *  4. the Hamming-2 multi-probe trade at ×10: probing ≤2-flip buckets
  *     cuts the table count ~3× at equal target recall (26 → single
  *     digits at the ×10 geometry) for a C(planes,2) probe fan-out —
  *     recall vs the exact arm and wall are measured for both regimes.
  *
  * Appends its section to SOAK.md (run AFTER graft.Soak, which
  * overwrites that file). Exit 1 if the delta/knn growth bounds or the
  * H2 recall gate fail.
  *
  * Usage: graft.LshScale [sfDir]
  *   SPARK_GRAFT_LSH_NS=1,3,10,30       scales measured
  *   SPARK_GRAFT_LSH_MAX_BATCH_N=30     largest N for the batch arm
  *   SPARK_GRAFT_LSH_DELTA_NS=1,10,100  scales for delta/knn arms
  *   SPARK_GRAFT_LSH_H2_N=10            scale for the Hamming-2 A/B
  *   SPARK_GRAFT_LSH_MD=SOAK.md         report (appended)
  */
object LshScale {
  private val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchNs = sys.env.getOrElse("SPARK_GRAFT_LSH_NS", "1,3,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val maxBatchN = sys.env.getOrElse("SPARK_GRAFT_LSH_MAX_BATCH_N", "30").toInt
    val deltaNs = sys.env.getOrElse("SPARK_GRAFT_LSH_DELTA_NS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val h2N = sys.env.getOrElse("SPARK_GRAFT_LSH_H2_N", "10").toInt
    val mdPath = sys.env.getOrElse("SPARK_GRAFT_LSH_MD", "SOAK.md")
    val work = "/tmp/graft_lsh_scale"
    val spark = GraftSession.local()

    // ---- inflation: Soak's orthogonal decorrelation, embeddings only ----
    val base = Tables.embeddings(spark, sfDir)
    val dim = base.select(size(col("embedding"))).head.getInt(0)
    def inflate(n: Int): DataFrame = {
      val path = s"$work/emb_${n}x"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        (0 until n).map { r =>
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
          base.select((col("vec_id") + lit(r * Stride)).as("vec_id"),
            mapped.as("embedding"))
        }.reduce(_.unionAll(_)).write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    def wall(body: => Unit): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup (JIT/codegen)
    noop(VectorOps.nearDupEmbeddingLsh(base))

    // ---- 1. batch arm: super-linear law, fitted ----
    val batch = batchNs.filter(_ <= maxBatchN).map { n =>
      val t = wall(noop(VectorOps.nearDupEmbeddingLsh(inflate(n))))
      println(f"[lsh] batch_pairs N=$n%3d wall=$t%8.2f s")
      (n, t)
    }
    // least-squares slope of log t over log n (drop n=1-only degenerate)
    val pts = batch.map { case (n, t) => (math.log(n.toDouble), math.log(t)) }
    val (mx, my) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
    val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
      math.max(1e-9, pts.map(p => (p._1 - mx) * (p._1 - mx)).sum)
    val t1 = batch.head._2
    val extrap100 = t1 * math.pow(100, slope)
    println(f"[lsh] batch exponent=$slope%.2f (n^(1+rho) law, rho≈0.62 theoretical) — x100 extrapolation ${extrap100}%.0f s")

    // ---- 2/3. delta + knn arms: fixed small side, corpus grows ----
    // projected to the inflated frames' (vec_id, embedding) shape — the
    // raw table also carries `label`
    val incoming = base.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 10 === 0) // fixed ~10% batch
    val queries = base.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 7 === 0)  // fixed query side
    val scaled = deltaNs.map { n =>
      val emb = inflate(n)
      val existing = emb.filter(!(col("vec_id") % 10 === 0 && col("vec_id") < Stride))
      val td = wall(noop(VectorOps.nearDupEmbeddingIncrementalLsh(existing, incoming)))
      // Hamming-2 regime: the corpus-side banding (tables × |corpus|)
      // dominates this arm, so the ~3× table cut should pay here
      val td2 = wall(noop(VectorOps.nearDupEmbeddingIncrementalLsh(
        existing, incoming, probeFlips = 2)))
      val right = emb.filter(!(col("vec_id") % 7 === 0 && col("vec_id") < Stride))
      val tk = wall(noop(VectorOps.knnJoinLsh(queries, right)))
      println(f"[lsh] fixed-side arms N=$n%3d delta=$td%7.2f s deltaH2=$td2%7.2f s knn=$tk%7.2f s")
      (n, td, td2, tk)
    }
    val (n1, d1, _, k1) = scaled.head
    val deltaOk = scaled.forall { case (n, d, _, _) => d <= 1.5 * (n.toDouble / n1) * d1 }
    val knnOk = scaled.forall { case (n, _, _, k) => k <= 1.5 * (n.toDouble / n1) * k1 }

    // ---- 4. Hamming-2 trade at ×h2N ----
    val embH2 = inflate(h2N)
    val nVec = embH2.count()
    val pln = VectorOps.sizedPlanes(nVec, slack = 5)
    val tH1 = VectorOps.sizedTablesMp(pln, 0.45, 0.9, flips = 1)
    val tH2 = VectorOps.sizedTablesMp(pln, 0.45, 0.9, flips = 2)
    // parquet, not localCheckpoint: wall()'s cache hygiene unpersists
    // every block between timings, and truth must survive four of them
    VectorOps.nearDupEmbedding(embH2).select(col("vec_a"), col("vec_b"))
      .write.mode("overwrite").parquet(s"$work/truth_h2")
    val truth = spark.read.parquet(s"$work/truth_h2")
    val nTruth = truth.count()
    def recallOf(df: DataFrame): Double = {
      val hit = df.select(col("vec_a"), col("vec_b"))
        .join(truth, Seq("vec_a", "vec_b"), "left_semi").count()
      if (nTruth == 0) 1.0 else hit.toDouble / nTruth
    }
    val w1 = wall(noop(VectorOps.nearDupEmbeddingLsh(embH2)))
    val r1 = recallOf(VectorOps.nearDupEmbeddingLsh(embH2))
    val w2 = wall(noop(VectorOps.nearDupEmbeddingLsh(embH2, probeFlips = 2)))
    val r2 = recallOf(VectorOps.nearDupEmbeddingLsh(embH2, probeFlips = 2))
    val h2Ok = r2 >= 0.9 && tH2 < tH1
    println(f"[lsh] hamming-probe A/B at x$h2N (planes=$pln): " +
      f"H1 tables=$tH1 recall=$r1%.3f wall=$w1%.1f s; " +
      f"H2 tables=$tH2 recall=$r2%.3f wall=$w2%.1f s ${if (h2Ok) "ok" else "FAIL"}")

    // ---- report ----
    val md = new StringBuilder
    md ++= s"\n## LSH scale crossover (graft.LshScale, ${batchNs.max}x/${deltaNs.max}x evidence)\n\n"
    md ++= "Batch all-pairs arm (`embedding_neardup_lsh`, constant-recall 0.9 auto-sizing):\n\n"
    md ++= "| N | wall (s) |\n|---|---|\n"
    batch.foreach { case (n, t) => md ++= f"| ${n}x | $t%.2f |\n" }
    md ++= f"\nFitted wall exponent **${slope}%.2f** over N (theory: 1+ρ ≈ 1.62 at cos 0.45 in candidate mass; wall sits below it while fixed overhead amortizes). ×100 extrapolation ≈ **${extrap100}%.0f s** — the batch arm is a rebuild-the-world pass at that scale, which is WHY the delta arm + persisted [IngestIndex-style] admission is the production path.\n\n"
    md ++= "Fixed-batch arms against a growing corpus (delta = the same ~500-vector batch; knn = the same ~700-query side):\n\n"
    md ++= "| N | delta arm H1 (s) | delta arm H2 (s) | bound 1.5·N·t(1) | knn join (s) | ok |\n|---|---|---|---|---|---|\n"
    scaled.foreach { case (n, d, d2, k) =>
      md ++= f"| ${n}x | $d%.2f | $d2%.2f | ${1.5 * (n.toDouble / n1) * d1}%.2f | $k%.2f | ${if (d <= 1.5 * (n.toDouble / n1) * d1 && k <= 1.5 * (n.toDouble / n1) * k1) "yes" else "**FAIL**"} |\n"
    }
    md ++= f"\nDelta and knn walls grow ≤ ~linear in corpus size (the corpus-side banding scan; candidates stay ∝ batch) while batch pairing grows as n^$slope%.2f — measured through ×${batch.last._1}, the crossover the SURVEY §6 row documents.\n\n"
    md ++= f"Hamming-2 multi-probe at ×$h2N (planes $pln, target recall 0.9): H1 needs $tH1 tables (recall ${r1}%.3f, ${w1}%.1f s); probing ≤2-flip buckets needs **$tH2 tables** (recall ${r2}%.3f, ${w2}%.1f s). The table cut trades base-side banding for a C(planes,2) probe fan-out — ${if (w2 < w1) "a net wall win here" else "wall-neutral-to-worse here (probe fan-out dominates at this density)"}; the regime is available as `probeFlips = 2` where base-side banding dominates (e.g. a persisted corpus index probed by small batches).\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(mdPath), md.toString,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    println(s"[lsh] report appended -> $mdPath")
    spark.stop()
    if (!(deltaOk && knnOk && h2Ok)) sys.exit(1)
  }
}
