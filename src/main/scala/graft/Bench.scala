package graft

/** Per-round benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is forced through the `noop` sink — a plain `.count()`
  * would let Catalyst prune the projected expressions (a count never
  * needs them) and under-measure compute-heavy queries. One untimed
  * warmup of the flagship amortizes JVM/codegen startup out of the
  * first measurement.
  */
object Bench {

  /** Deliberately-naive formulations kept ONLY as correctness
    * cross-checks of their scale-path twins (SURVEY.md J3): the literal
    * reference SQL (Catalyst decorrelates its correlated range-count
    * into an O(weeks × rentals) nested-loop join) and the explicit NL
    * shape. They are timed and reported under "diagnostics", but
    * excluded from the headline total — no user would run them when the
    * engine's default (`weekly_summary`, cumulative O(n)) computes the
    * identical result. Same policy for the exact embedding arms: the
    * all-pairs cartesian (`embedding_neardup`) and the unblocked
    * inc×corpus pass (`embedding_neardup_delta`) exist as correctness
    * cross-checks of the LSH-blocked scale paths
    * (`embedding_neardup_lsh` / `_delta_lsh`) — verify still oracles
    * them, but the headline stops timing known-quadratic diagnostics. */
  private val Diagnostics = Set(
    "weekly_summary_nl", "weekly_summary_sql",
    "embedding_neardup", "embedding_neardup_delta",
    // exact label-prop arm: queries×labeled grows quadratically (soak
    // r8: x11 at 10x data) — the oracle cross-check of the headline
    // knn_label_prop_lsh scale path, same policy as the exact
    // embedding arms above
    "knn_label_prop")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def execute(name: String): Double = {
      // Hygiene between queries: drop cached relations, explicitly free
      // persisted blocks left by iterative operators (localCheckpoint
      // RDDs stay in the block manager until their weak ref is GC'd and
      // the async ContextCleaner gets to them — deterministic unpersist
      // beats waiting), and nudge a GC so broadcast/codegen litter from
      // earlier queries doesn't tax later ones (observed: tail queries
      // inflating several-fold in a shared 40-query JVM without this).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // JVM-state telemetry per query (stderr, not the JSON contract):
      // cumulative GC ms, loaded-class count, used heap — the three
      // candidate explanations for tail-query inflation in a ~100-query
      // resident JVM. A query slow under high ΔGC is heap-bound; slow
      // under flat GC but growing classes is metaspace/codegen-bound.
      import scala.jdk.CollectionConverters._
      import java.lang.management.{ManagementFactory => mf}
      val gcMs = mf.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val classes = mf.getClassLoadingMXBean.getLoadedClassCount
      val heapMb = mf.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1 << 20)
      // code-cache fill + cumulative JIT time: the two signals that
      // separate "C2 queue is busy" from "code cache exhausted, loops
      // stuck interpreted" (the latter would show cache near its 512m
      // reserve and compile time flat-lining).
      val ccMb = mf.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / (1 << 20)
      val jitMs = mf.getCompilationMXBean.getTotalCompilationTime
      System.err.println(
        f"[bench-jvm] $name%-28s ${sec}%8.2f s  gc_cum=${gcMs}ms classes=$classes heap=${heapMb}MB codecache=${ccMb}MB jit_cum=${jitMs}ms")
      sec
    }

    // Untimed warmup, one query per input family (rental view over
    // orders⋈lineitem, documents text pipeline, embeddings vector path):
    // amortizes JVM/janino codegen compilation and first-touch parquet
    // footprint out of whichever family member happens to run first, so
    // the measured numbers are the steady-state latencies a resident
    // engine would serve. Queries are measured cache-cleared (execute()
    // clears and GCs) — the warmup leaves no data cached, only JIT state.
    Seq("weekly_summary", "neardup_jaccard", "ann_topk").foreach(execute)

    // SPARK_GRAFT_ONLY=q1,q2 runs a subset — an iteration aid; the
    // driver leaves it unset and measures everything.
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .fold(SparkEntry.queries.keys.toSeq)(only =>
        SparkEntry.queries.keys.filter(only).toSeq)
    // Same-query same-JVM variance is bimodal (documented in BASELINE.md:
    // C2 compile-queue lottery, 2.3 s vs 18.3 s with flat GC), so a
    // single shot is not a trustworthy regression signal. Each query runs
    // SPARK_GRAFT_BENCH_REPS times (default 3) BACK-TO-BACK. Round 4
    // interleaved the reps (rep 1 of every query, then rep 2, …) to keep
    // one transient JVM state from poisoning all reps of a query — but
    // with 134 queries and Spark's 100-entry codegen cache, interleaving
    // guarantees every query's generated classes are EVICTED between its
    // own reps, so every rep re-pays janino compile + fresh JIT warmup.
    // That deterministic recompile tax (not data compute) is what
    // inflated the sub-second queries 1.3–1.9× in BENCH_r04 even at
    // per-rep minimum. Back-to-back reps let reps 2..n hit the codegen
    // cache and warmed loops — the steady-state latency a resident
    // engine serves (the same philosophy as the warmup above), while the
    // median still absorbs a one-off GC/compile transient.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val order = selected.sorted
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
    def render(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    def renderStats(names: Seq[String]): String = names.map { n =>
      val ok = samples(n).filter(_ >= 0)
      val (mn, mx) = if (ok.isEmpty) (-1.0, -1.0) else (ok.min, ok.max)
      "\"" + n + "\":{\"median\":" + median(samples(n)) + ",\"min\":" + mn +
        ",\"max\":" + mx + "}"
    }.mkString("{", ",", "}")
    // Operational mains (IncrementalRun cold/warm, StreamingRun drain)
    // are timed as their own non-headline section: they measure the
    // maintenance paths a resident engine actually runs (state upsert,
    // watermark advance, micro-batch drain), not a query plan.
    val opSamples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // A red query must be LOUD, not a -1 that quietly shrinks the sum:
    // round 6/7 shipped headline totals over 112/150 queries because 38
    // failures only ever appeared as negative medians nobody summed. Any
    // query whose reps ALL errored lands in "failed" and flips the
    // process exit code — the driver's artifact turns visibly red.
    def failedNames: Seq[String] =
      (order ++ opSamples.keys.toSeq.sorted)
        .filter(n => (samples(n) ++ opSamples(n)).nonEmpty &&
          (samples(n) ++ opSamples(n)).forall(_ < 0))
    def currentJson(repsDone: Int): String = {
      val results = order.map(n => n -> median(samples(n)))
      val (diag, headline) = results.partition(r => Diagnostics(r._1))
      val total = headline.map(_._2).filter(_ >= 0).sum
      // Both metric definitions stay reportable: "value" is the headline
      // (scale-path queries only, sum of medians), "all_queries_total"
      // adds the diagnostics back so the number is comparable to a plain
      // sum over every query.
      val allTotal = results.map(_._2).filter(_ >= 0).sum
      val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
      val operational = opSamples.keys.toSeq.sorted
        .map(n => "\"" + n + "\":" + median(opSamples(n))).mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$repsDone,"queries_total":${order.size},"queries_failed":${failedNames.size},"failed":$failed,"all_queries_total":$allTotal,"queries":${render(headline)},"diagnostics":${render(diag)},"operational":$operational,"stats":${renderStats(order)},"sf":"$sfDir"}"""
    }
    // The JSON goes to its OWN file as well as stdout: round 3's tail
    // capture started mid-line and truncated the first ~41 per-query
    // timings out of BENCH_r03.json. The file is (re)written after EVERY
    // completed rep, so a harness that kills a long bench mid-run still
    // finds complete rep-1 numbers instead of nothing.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    def flush(repsDone: Int): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (currentJson(repsDone) + "\n").getBytes("UTF-8"))
    order.zipWithIndex.foreach { case (n, i) =>
      System.err.println(s"[bench] === query ${i + 1}/${order.size}: $n ($reps reps) ===")
      (1 to reps).foreach(_ => samples(n) = samples(n) :+ execute(n))
      flush(reps) // after every query: a killed run still has complete medians so far
    }
    // ---- operational mains (round-5 task 8): cold incremental build,
    // warm-delta no-op re-run (watermark advance only), and a full
    // streaming micro-batch drain with convergence check. Each rep gets
    // a FRESH state/work dir for the cold paths; the warm run reuses the
    // state its rep's cold run just built. The mains reuse this session
    // ([[GraftSession.run]]) — a divergence/DQ failure throws and
    // lands in `failed` like any red query. Skipped when SPARK_GRAFT_ONLY
    // narrows to queries; SPARK_GRAFT_ONLY=operational runs just this.
    val runOperational = sys.env.get("SPARK_GRAFT_ONLY")
      .fold(true)(only => only.split(",").map(_.trim).contains("operational"))
    if (runOperational) {
      // SPARK_GRAFT_OPS=corpus_run,corpus_run_indexed_cold,… narrows the
      // operational section to a dependency-closed subset (iteration
      // aid — pick prefixes that include what your row needs: warm rows
      // need their cold row, ingest rows need ingest_index_build)
      val opSelected = sys.env.get("SPARK_GRAFT_OPS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      def opExec(name: String)(body: => Unit): Unit = {
        if (opSelected.exists(!_.contains(name))) return
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
        val t0 = System.nanoTime()
        val sec =
          try { body; (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] operational $name failed: ${e.getMessage}")
            -1.0
          }
        opSamples(name) = opSamples(name) :+ sec
        System.err.println(f"[bench] operational $name%-20s $sec%8.2f s")
      }
      (1 to reps).foreach { r =>
        System.err.println(s"[bench] === operational rep $r/$reps ===")
        val incDir = java.nio.file.Files.createTempDirectory("graft-bench-inc").toString
        opExec("incremental_cold")(IncrementalRun.main(Array(sfDir, incDir)))
        opExec("incremental_warm")(IncrementalRun.main(Array(sfDir, incDir)))
        val strDir = java.nio.file.Files.createTempDirectory("graft-bench-stream").toString
        opExec("streaming_drain")(StreamingRun.main(Array(sfDir, strDir, "4")))
        // live-index streaming ingest: per-micro-batch index re-open,
        // mid-stream absorb visible to the NEXT batch (re-crawls
        // rejected), convergence-checked against the batch predicate
        val strIngDir = java.nio.file.Files.createTempDirectory("graft-bench-sing").toString
        opExec("streaming_ingest")(StreamingIngestRun.main(Array(sfDir, strIngDir)))
        // the end-to-end curation pipeline (quality ∧ model → exact →
        // near-dup keeper → decontaminate → splits → PSI gate) — the
        // flagship training-data main gets a measured number too
        val corDir = java.nio.file.Files.createTempDirectory("graft-bench-corpus").toString
        opExec("corpus_run")(CorpusRun.main(Array(sfDir, corDir)))
        // downstream mirror over the change feed: cold copy of the
        // just-published store (the mirror a trainer or another cluster
        // follows instead of re-reading the source)
        val mirDir = java.nio.file.Files.createTempDirectory("graft-bench-mirror").toString
        val corStore = new graft.incremental.SnapshotTable(spark, s"$corDir/corpus", "doc_id")
        val mirStore = new graft.incremental.SnapshotTable(spark, s"$mirDir/corpus", "doc_id")
        opExec("corpus_mirror_cold")(
          graft.incremental.SnapshotSync.sync(corStore, mirStore))
        // warm sync ACROSS a compaction: stage a 5-doc merge + full
        // optimize on the source (untimed), then time the sync — the
        // op-aware feed applies only the merge's churn; the compacted
        // mass never crosses (the r15 rewrite-op-aware change feed)
        if (!opSelected.exists(!_.contains("corpus_mirror_warm"))) {
          val touch = corStore.read().orderBy("doc_id").limit(5)
            .withColumn("quality_score", org.apache.spark.sql.functions.lit(0.0))
          corStore.merge(touch)
          corStore.optimize(smallBytes = Long.MaxValue)
        }
        opExec("corpus_mirror_warm")(
          graft.incremental.SnapshotSync.sync(corStore, mirStore))
        // right-to-be-forgotten over the corpus this rep just published:
        // keyed DELETE (file-pruned COW) + retire + vacuum + re-export —
        // the erasure path a corpus store owes its sources, measured
        opExec("corpus_forget_run") {
          val store = new graft.incremental.SnapshotTable(spark, s"$corDir/corpus", "doc_id")
          val ids = store.read().select("doc_id").orderBy("doc_id")
            .limit(10).collect().map(_.getLong(0))
          CorpusForget.main(Array(corDir, ids.mkString(",")))
        }
        // periodic cross-batch near-dup sweep (the batch half of
        // accumulate mode's lambda split): corpus-wide keeper pass +
        // file-pruned demotion delete. On this single-batch store the
        // funnel already resolved within-batch near-dups, so the row
        // measures the sweep's detection pass at fixpoint — the
        // recurring cost of running it on a cadence.
        opExec("corpus_sweep_run")(CorpusNearDupSweep.main(Array(corDir)))
        // post-forget re-sync: the forget's retire+vacuum retired the
        // mirror's cursor version, so this measures the RETENTION-FENCE
        // full refresh — the operational consequence an erasure imposes
        // on every feed consumer (the forgotten docs leave the mirror
        // too); feed-path application cost is spec-pinned at unit grain
        opExec("corpus_mirror_refresh")(
          graft.incremental.SnapshotSync.sync(corStore, mirStore))
        // streaming mirror: the change-feed source drained into a
        // cdc-mode sink — cold copy, then a merge+compaction+delete wave
        // applied as ONE delta, plus a rate-limited drain of the same
        // wave (the main convergence-checks itself against a batch sync
        // and fails red on divergence, StreamingRun conventions)
        val smirDir = java.nio.file.Files.createTempDirectory("graft-bench-smir").toString
        opExec("streaming_mirror")(StreamingMirrorRun.main(Array(sfDir, smirDir)))
        // indexed-admission twin (SPARK_GRAFT_INGEST_STATE): the cold
        // run builds the persisted ingest state from its admissions, the
        // warm run probes it — the funnel's exact-dedup stage at
        // delta-proportional cost instead of a per-run corpus dedup
        val corIdxDir = java.nio.file.Files.createTempDirectory("graft-bench-corpus-idx").toString
        sys.props("SPARK_GRAFT_INGEST_STATE") = s"$corIdxDir/state"
        try {
          opExec("corpus_run_indexed_cold")(CorpusRun.main(Array(sfDir, s"$corIdxDir/out1")))
          opExec("corpus_run_indexed_warm")(CorpusRun.main(Array(sfDir, s"$corIdxDir/out2")))
        } finally sys.props.remove("SPARK_GRAFT_INGEST_STATE")
        // training export: shard write + manifest consistency + the
        // re-export determinism check (two full writes by design)
        val expDir = java.nio.file.Files.createTempDirectory("graft-bench-export").toString
        opExec("export_run")(ExportRun.main(Array(sfDir, expDir)))
        // persisted ingest-probe state: one cold index build, then the
        // warm delta probe whose cost is delta-proportional. The inline
        // headline twins (dedup_exact_delta, doc_dup_spans_delta,
        // neardup_winnow_delta) rebuild the corpus index per call — the
        // gap between their sum and ingest_probe_warm is the per-batch
        // price the persisted state eliminates.
        val ingDir = java.nio.file.Files.createTempDirectory("graft-bench-ingest").toString
        opExec("ingest_index_build")(IngestRun.main(Array(sfDir, s"$ingDir/state", "build")))
        opExec("ingest_probe_warm")(IngestRun.main(Array(sfDir, s"$ingDir/state", "probe")))
        // fold the delta into the persisted state: segment append, work
        // ∝ delta (the absorb-flat-in-corpus-size claim this row exists
        // to keep honest), then the amortized compaction fold
        opExec("ingest_absorb")(IngestRun.main(Array(sfDir, s"$ingDir/state", "absorb")))
        opExec("ingest_compact")(IngestRun.main(Array(sfDir, s"$ingDir/state", "compact")))
      }
      flush(reps)
    }
    println(currentJson(reps))
    // A compact (<256 byte) trailer AFTER the full JSON: the driver's
    // tail capture has twice truncated the front of the giant line
    // (BENCH_r03/r08 "parsed": null). This summary survives any tail
    // window; the full per-query detail stays in the line above and in
    // SPARK_GRAFT_BENCH_OUT.
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val headlineSum = "%.1f".format(
      order.filterNot(Diagnostics).map(n => median(samples(n))).filter(_ >= 0).sum)
    println(s"""[bench-summary] {"metric":"total","value":$headlineSum,"unit":"sec","queries_total":${order.size},"queries_failed":${failedNames.size},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failedNames.nonEmpty) {
      System.err.println(s"[bench] RED: ${failedNames.size} queries failed every rep: " +
        failedNames.mkString(", "))
      sys.exit(2)
    }
  }
}
