package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.SnapshotTable

/** Pins the r20 one-pass staging optimization: manifest stats computed
  * INLINE with the data write ([[graft.incremental.FileStats]] as an
  * observed metric) must be byte-identical to the r19 read-back pass
  * they replace, the inline path must actually be ADOPTED (not silently
  * falling back), and a provably-empty stage must run zero Spark jobs. */
final class FileStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Corpus-shaped frame with the nasty corners: null strings, an
    * all-null column slice, NaN/±Inf doubles, multi-byte UTF-8 whose
    * UTF-16 order differs from UTF-8 byte order (U+FF01 vs U+1F600). */
  private def corpus(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      val name =
        if (i % 11 == 0) null
        else if (i % 7 == 0) "！stop" // U+FF01: above U+1F600 in UTF-16, below in UTF-8
        else if (i % 5 == 0) new String(Character.toChars(0x1F600)) + "grin"
        else s"doc-$i"
      val score: java.lang.Double =
        if (i % 13 == 0) null
        else if (i % 17 == 0) Double.NaN
        else if (i % 19 == 0) Double.PositiveInfinity
        else i * 1.5 - 100.0
      (i.toLong, name, score, (i % 400).toLong)
    }.toDF("doc_id", "name", "score", "n_chars")
  }

  private def tableAt(dir: String) = new SnapshotTable(spark, dir, "doc_id",
    clusterPartitions = Some(3), statsColumns = Seq("n_chars", "score", "name"),
    keyBloomBits = 256, deleteVectorMaxRows = 0L)

  /** The newest manifest's content lines, normalized for comparison
    * across two independently staged tables: data paths are replaced by
    * their part index (UUID dir names differ), and the trailing
    * byte-length field of `f` lines is dropped (codec framing may
    * differ run to run). Everything else — rows, kind, encoded min/max,
    * null counts, per-column stats, bloom bits — must match exactly. */
  private def normalizedManifest(dir: String): Seq[String] = {
    val d = new java.io.File(s"$dir/manifests")
    val newest = d.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName).last
    def partIdx(p: String): String =
      p.split("/").last.stripPrefix("part-").takeWhile(_ != '-')
    scala.io.Source.fromFile(newest, "UTF-8").getLines().flatMap { line =>
      val f = line.split("\t", -1)
      line.take(2) match {
        case "f\t" => Some((Seq("f", partIdx(f(1))) ++ f.drop(2).dropRight(1)).mkString("\t"))
        case "s\t" | "b\t" | "d\t" =>
          Some((Seq(f(0), partIdx(f(1))) ++ f.drop(2)).mkString("\t"))
        case _ => None // headers carry no per-file stats
      }
    }.toSeq.sorted
  }

  test("inline write-time stats are adopted and byte-identical to the read-back pass") {
    val base = TestSpark.tempDir("graft-fstats").toString
    val docs = corpus(0 until 500)
    val upserts = corpus(450 until 520).withColumn("score", col("score") + 1.0)

    // ARM A: inline stats (the default path)
    val a = tableAt(s"$base/a")
    val (c0, f0) = (a.inlineStatsCommits, a.inlineStatsFallbacks)
    a.create(docs)
    a.merge(upserts)
    assert(a.inlineStatsCommits - c0 >= 2,
      s"inline stats were not adopted (commits=${a.inlineStatsCommits - c0}, " +
        s"fallbacks=${a.inlineStatsFallbacks - f0}) — the observe metric is " +
        "not arriving or the pid↔file mapping failed")
    assert(a.inlineStatsFallbacks - f0 == 0,
      "inline stats fell back to the read-back pass — mapping verification failed")

    // ARM B: the r19 read-back pass, same data, same operations
    val b = tableAt(s"$base/b")
    b.inlineStats = false
    b.create(docs); b.merge(upserts)

    assert(normalizedManifest(s"$base/a") == normalizedManifest(s"$base/b"),
      "inline stats diverged from the read-back stats pass")
    // rendered-row comparison: the data deliberately carries NaN, and
    // Scala's boxed-double == is NaN-hostile (NaN != NaN), so a direct
    // value comparison would fail on rows both arms computed identically
    val (ra, rb) = (TestSpark.collectSorted(a.read()).map(_.mkString("|")),
      TestSpark.collectSorted(b.read()).map(_.mkString("|")))
    assert(ra == rb, s"table contents diverged (${ra.size} vs ${rb.size} rows)")
    assert(a.countWhere("n_chars", Some(100L), Some(200L)) ==
      b.countWhere("n_chars", Some(100L), Some(200L)))
  }

  test("provably-empty staging commits zero Spark jobs and an empty file set") {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    val dir = TestSpark.tempDir("graft-fstats-empty").toString
    val docs = corpus(0 until 50)
    // LIMIT 0 over a real frame, and a LocalRelation-backed empty frame
    val t1 = tableAt(s"$dir/t1")
    spark.sparkContext.addSparkListener(listener)
    try {
      t1.create(docs.limit(0))
      Thread.sleep(500) // async listener bus: let any job-start event land
      assert(jobs == 0, s"empty create ran $jobs Spark jobs — fast path not taken")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(t1.countRows() == 0L)
    assert(t1.read().schema.fieldNames.toSeq == docs.schema.fieldNames.toSeq)
    // and the table behaves: a later real merge lands normally
    t1.merge(corpus(0 until 20))
    assert(t1.countRows() == 20L)
  }

  test("one-job batch profile matches the per-purpose-jobs fallback") {
    // the r20 combined batch profile (ONE groupBy job serving the
    // uniqueness guard, the file pruner, the DV split, and the
    // anti-join build side) against the r19 separate-jobs path, forced
    // via the pruneSetCap seam (a tiny cap overflows the profile into
    // the uncollected sub-range route): table contents, change feeds, and
    // guard behavior must be identical — only job counts may differ
    def run(dir: String, cap: Long): SnapshotTable = {
      val t = new SnapshotTable(spark, dir, "doc_id",
        clusterPartitions = Some(3), statsColumns = Seq("n_chars", "score"),
        keyBloomBits = 256, deleteVectorMaxRows = 40L)
      t.pruneSetCap = cap
      t.create(corpus(0 until 400))
      t.merge(corpus(380 until 430).withColumn("score", col("score") + 1.0))
      // scattered upserts + scattered deletes: exercises the DV split
      t.applyDelta(
        corpus(0 until 400).filter(col("doc_id") % 37 === 0)
          .withColumn("name", lit("[redacted]")),
        corpus(0 until 400).filter(col("doc_id") % 41 === 1).select("doc_id"))
      t.delete(corpus(0 until 400).filter(col("doc_id") % 53 === 2).select("doc_id"))
      // duplicate-key guard fires identically in both tiers
      val dup = intercept[IllegalArgumentException] {
        t.merge(corpus(0 until 2).unionByName(corpus(0 until 2)))
      }
      assert(dup.getMessage.contains("2 duplicate doc_id"))
      t
    }
    val base = TestSpark.tempDir("graft-bkeys").toString
    val a = run(s"$base/a", 100000L) // combined one-job profile
    val b = run(s"$base/b", 3L)      // forced overflow: r19 fallback jobs
    val (ra, rb) = (TestSpark.collectSorted(a.read()).map(_.mkString("|")),
      TestSpark.collectSorted(b.read()).map(_.mkString("|")))
    assert(ra == rb, s"contents diverged (${ra.size} vs ${rb.size} rows)")
    assert(a.countRows() == b.countRows())
    assert(a.countWhere("n_chars", Some(100L), Some(300L)) ==
      b.countWhere("n_chars", Some(100L), Some(300L)))
    // the combined path kept the DV promise: scattered deletes beside
    // upserts did not rewrite every touched file
    assert(a.lastRewrites == 0,
      s"combined-profile DV delete rewrote ${a.lastRewrites} files")
  }

  test("NaN max degrades that column's bounds in both arms the same way") {
    // a file whose score max is NaN records NO score bounds (ordEncode
    // refuses NaN) but keeps its exact null count — behavior inherited
    // from r19; this pins that the inline path reproduces it
    val dir = TestSpark.tempDir("graft-fstats-nan").toString
    val s = spark
    import s.implicits._
    val df = Seq((1L, Double.NaN), (2L, 5.0), (3L, Double.NegativeInfinity))
      .toDF("doc_id", "score")
    val t = new SnapshotTable(spark, s"$dir/t", "doc_id",
      clusterPartitions = Some(1), statsColumns = Seq("score"))
    t.create(df)
    val t2 = new SnapshotTable(spark, s"$dir/t2", "doc_id",
      clusterPartitions = Some(1), statsColumns = Seq("score"))
    t2.inlineStats = false
    t2.create(df)
    assert(normalizedManifest(s"$dir/t") == normalizedManifest(s"$dir/t2"))
    // countWhere on the NaN-maxed column stays exact (scan fallback)
    assert(t.countWhere("score", Some(0.0), Some(10.0)) ==
      t2.countWhere("score", Some(0.0), Some(10.0)))
  }
}
