package graft

import org.apache.spark.sql.functions._

/** BPE-trainer scale measurement (BASELINE.md evidence row): train
  * `SPARK_GRAFT_BPE_MERGES` (default 1000) merges over an N-fold
  * bijection-inflated documents corpus and compare round protocols —
  * the strictly-sequential one-merge-per-round baseline (`seq`,
  * batchK = 1), the fixed 16-candidate batch the engine shipped in r10
  * (`fixed`), and the adaptive-cap batch (`adaptive`, cap 256: rounds
  * grow after conflict-free acceptance, shrink after waste — see
  * [[graft.ops.TextOps.vocabBpe]]). One line per mode: merges learned,
  * Spark jobs, jobs/merge, wall. Every mode must learn the IDENTICAL
  * merge sequence (asserted here on the full inflated corpus; the
  * acceptance proof says so, CorpusOpsSpec pins it at sf0.001) — the
  * protocols move COST only.
  *
  * Usage: graft.BpeScale [sfDir]
  *   SPARK_GRAFT_BPE_N=10            replica inflation factor
  *   SPARK_GRAFT_BPE_MERGES=1000     merges per mode
  *   SPARK_GRAFT_BPE_MODES=adaptive,fixed,seq   (adaptive runs FIRST —
  *     coldest JVM — so its win over `fixed` is conservative)
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_BPE_N", "10").toInt
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "1000").toInt
    val spark = GraftSession.local()

    // N-replica inflation with Soak's per-replica alphabet bijection
    // (replica 0 = identity), persisted once so every mode reads the
    // same bytes
    val base = Tables.documents(spark, sfDir)
    val docs = (0 until n).map { r =>
      val map = Soak.replicaCharMap(r)
      val bij = udf((t: String) => Soak.bijectText(t, map))
      base.select((col("doc_id") + lit(r * 100000000L)).as("doc_id"),
        bij(col("text")).as("text"))
    }.reduce(_.unionAll(_))
    val dir = "/tmp/graft_bpe_scale"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val inflated = spark.read.parquet(s"$dir/documents.parquet")
    println(s"[bpe] corpus: ${inflated.count()} docs (${n}x $sfDir), nMerges=$nMerges")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    val modes = sys.env.getOrElse("SPARK_GRAFT_BPE_MODES", "adaptive,fixed,seq")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val results = modes.map { m =>
      val bk = m match { case "seq" => 1; case "fixed" => 16; case _ => 256 }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val learned = graft.ops.TextOps.vocabBpe(inflated, nMerges, bk)
      val sec = (System.nanoTime() - t0) / 1e9
      val dj = jobs.get() - j0
      println(f"[bpe] mode=$m%-8s batchK=$bk%3d merges=${learned.size}%5d " +
        f"jobs=$dj%6d jobs/merge=${dj.toDouble / math.max(1, learned.size)}%5.2f " +
        f"wall=$sec%8.1f s")
      m -> learned
    }
    // the protocols must be result-invisible: identical merge sequences
    // over the common prefix (seq may be invoked with a smaller budget)
    results.toSeq.combinations(2).foreach { pair =>
      val Seq((ma, la), (mb, lb)) = pair
      val len = math.min(la.size, lb.size)
      require(la.take(len) == lb.take(len),
        s"merge sequences diverged between $ma and $mb — the acceptance proof is broken")
    }
    println("[bpe] all modes learned identical merge sequences")
    spark.stop()
  }
}
