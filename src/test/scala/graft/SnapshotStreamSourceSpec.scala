package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.{SnapshotSync, SnapshotTable}
import TestSpark._

/** The SnapshotTable as BOTH ENDS of Structured Streaming
  * ([[org.apache.spark.sql.graft.SnapshotTableProvider]]): the SOURCE's
  * offsets are table versions and each micro-batch is `changesKeyed`
  * over its version interval (rewrite-op-aware — compaction mass never
  * enters the stream); the SINK commits each batch atomically with the
  * batch id riding the commit tag (replays skip), in upsert / cdc /
  * append modes. */
class SnapshotStreamSourceSpec extends AnyFunSuite {

  private val provider = "org.apache.spark.sql.graft.SnapshotTableProvider"

  private def freshDir(): String =
    TestSpark.tempDir("graft-feedsrc").toString

  private def kv(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private def feed(dir: String, extra: (String, String)*): DataFrame =
    extra.foldLeft(spark.readStream.format(provider)
      .option("path", dir).option("key", "k")) { case (r, (k, v)) => r.option(k, v) }
      .load()

  test("tail semantics: commits after stream start arrive as CDC rows, version-stamped") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a", 2L -> "b", 3L -> "c")) // v0 — before the stream: not delivered
    // read through the registered short name: same provider
    val q = spark.readStream.format("graft-snapshot")
      .option("path", dir).option("key", "k")
      .option("maxVersionsPerBatch", "1") // one commit per micro-batch
      .load()
      .writeStream.format("memory").queryName("feed_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("feed_tail").isEmpty, "tail-only: the pre-start snapshot stays out")
      tbl.merge(kv(2L -> "B", 4L -> "d")) // v1: update 2, insert 4
      tbl.delete(kv(1L -> "").select("k")) // v2: delete 1
      q.processAllAvailable()
      val got = spark.table("feed_tail")
        .select("k", "v", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, "a", "delete", 2L), // pre-image from the delete's own interval
        (2L, "B", "update", 1L),
        (4L, "d", "insert", 1L)))
    } finally q.stop()
  }

  test("compaction never floods the stream; startingVersion replays history") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(5))
    tbl.create((1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")) // v0
    tbl.merge(kv(7L -> "V7")) // v1: one-row churn
    tbl.optimize(smallBytes = Long.MaxValue) // v2: FULL rewrite, zero logical change
    tbl.merge(kv(300L -> "new")) // v3: one-row churn
    // startingVersion=0 replays everything SINCE v0 across the
    // compaction: exactly the two merges' churn, never the 200-row mass
    val q = feed(dir, "startingVersion" -> "0")
      .writeStream.format("memory").queryName("feed_replay").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("feed_replay")
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      assert(got == Seq((7L, "V7", "update"), (300L, "new", "insert")))
    } finally q.stop()
  }

  test("a foreachBatch consumer applies the feed with applyDelta and survives a restart") {
    val s = spark
    val dir = freshDir()
    val ckpt = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a", 2L -> "b", 3L -> "c")) // v0
    val mirror = new SnapshotTable(spark, freshDir(), "k")
    mirror.create(tbl.read()) // cold copy at the stream's starting version

    def applyFeed(batch: DataFrame, batchId: Long): Unit = {
      SnapshotSync.applyFeed(mirror, batch, tag = s"batch:$batchId")
      ()
    }
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      feed(dir).writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(applyFeed _).start()

    val q1 = run()
    try {
      tbl.merge(kv(2L -> "B", 4L -> "d")) // v1
      q1.processAllAvailable()
      assertSameRows(mirror.read(), tbl.read())
    } finally q1.stop()

    // source moves while the stream is DOWN; the checkpointed version
    // offset resumes exactly after the applied interval
    tbl.delete(kv(1L -> "").select("k")) // v2
    tbl.merge(kv(5L -> "e")) // v3
    val q2 = run()
    try {
      q2.processAllAvailable()
      assertSameRows(mirror.read(), tbl.read())
      assert(mirror.read().count() == 4) // 2B,3c,4d,5e
    } finally q2.stop()
  }

  test("sink upsert mode: batches land as tagged merges; a replayed batch id is a no-op") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](s)
    val q = input.toDF().toDF("k", "v")
      .writeStream.format(provider)
      .option("path", dir).option("key", "k")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val tbl = new SnapshotTable(spark, dir, "k")
    try {
      input.addData(1L -> "a", 2L -> "b")
      q.processAllAvailable()
      assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
      assert(tbl.history.map(_._3) == Seq("create"))
      input.addData(2L -> "B", 3L -> "c") // update + insert: a keyed merge
      q.processAllAvailable()
      assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "B", 3L -> "c"))
      assert(tbl.history.map(_._3) == Seq("create", "merge"))
      assert(tbl.currentTag.contains("stream-batch::1")) // default (empty) sinkId
    } finally q.stop()
    // a replayed batch id (crash between sink commit and checkpoint
    // commit) must be skipped off the commit tag — even with different
    // content, nothing lands
    val sink = new org.apache.spark.sql.graft.SnapshotTableProvider()
      .createSink(s.sqlContext, Map("path" -> dir, "key" -> "k"), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(1L, kv(9L -> "ghost"))
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "B", 3L -> "c"))
    sink.addBatch(2L, kv(9L -> "real")) // the NEXT id applies
    assert(tbl.read().count() == 4)
  }

  test("two calls replicate a store: readStream feed into a cdc-mode writeStream sink") {
    val s = spark
    import s.implicits._
    val srcDir = freshDir()
    val mirDir = freshDir()
    val ckpt = freshDir()
    val src = new SnapshotTable(spark, srcDir, "k")
    src.create(Seq.empty[(Long, String)].toDF("k", "v")) // v0: empty, pre-stream
    val q = feed(srcDir)
      .writeStream.format(provider)
      .option("path", mirDir).option("key", "k").option("mode", "cdc")
      .option("checkpointLocation", ckpt)
      .start()
    val mirror = new SnapshotTable(spark, mirDir, "k")
    try {
      src.merge(kv(1L -> "a", 2L -> "b", 3L -> "c"))
      q.processAllAvailable()
      assertSameRows(mirror.read(), src.read())
      src.delete(kv(1L -> "").select("k"))
      src.merge(kv(2L -> "B", 4L -> "d"))
      src.optimize(smallBytes = Long.MaxValue) // compaction mass must not cross
      q.processAllAvailable()
      assertSameRows(mirror.read(), src.read())
      assert(mirror.read().count() == 3) // 2B, 3c, 4d
      // the mirror's history is creates/deltas only — never an
      // overwrite, never a compaction-sized rewrite
      assert(mirror.history.map(_._3).forall(op =>
        op == "create" || op == "delta" || op == "merge" || op == "tag"))
    } finally q.stop()
  }

  test("sink dedup is keyed on (sinkId, batchId): a new pipeline's batch 0 is not swallowed") {
    val s = spark
    val dir = freshDir()
    def sink(id: String) = new org.apache.spark.sql.graft.SnapshotTableProvider()
      .createSink(s.sqlContext, Map("path" -> dir, "key" -> "k", "sinkId" -> id), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    val a = sink("pipeline-a")
    a.addBatch(0L, kv(1L -> "a"))
    a.addBatch(1L, kv(2L -> "b"))
    val tbl = new SnapshotTable(spark, dir, "k")
    assert(tbl.read().count() == 2)
    // same sink id, replayed batch: skipped
    a.addBatch(1L, kv(9L -> "ghost"))
    assert(tbl.read().count() == 2)
    // a DIFFERENT pipeline re-pointed at the same target restarts its
    // batch ids at 0 — its batches must APPLY, not dedup against
    // pipeline-a's higher tag
    val b = sink("pipeline-b")
    b.addBatch(0L, kv(3L -> "c"))
    assert(tbl.read().count() == 3)
  }

  test("cdc first batch matches applyDelta-on-empty: upsert wins its own delete, bare deletes no-op") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val sink = new org.apache.spark.sql.graft.SnapshotTableProvider()
      .createSink(s.sqlContext, Map("path" -> dir, "key" -> "k", "mode" -> "cdc"), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    // key 1 arrives both as an insert and a delete in the FIRST batch
    // (no table yet): applyDelta's documented overlap class says the
    // upsert wins — the first batch must not behave differently
    val batch = Seq((1L, "a", "insert"), (1L, "a", "delete"), (2L, "b", "insert"),
      (3L, "c", "delete")).toDF("k", "v", "_change_type")
    sink.addBatch(0L, batch)
    val tbl = new SnapshotTable(spark, dir, "k")
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
  }

  test("rate-limited stream across a clean restart never re-delivers committed intervals") {
    val s = spark
    val dir = freshDir()
    val ckpt = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def run() = feed(dir, "maxVersionsPerBatch" -> "1")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen ++= b.select("k", "_change_type", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        ()
      }.start()
    val q1 = run()
    try {
      tbl.merge(kv(2L -> "b")) // v1
      tbl.merge(kv(3L -> "c")) // v2
      q1.processAllAvailable()
    } finally q1.stop()
    // clean restart (everything committed); the rate limit must resume
    // from the checkpointed offset, not the persisted birth base —
    // otherwise versions (0,1] and (1,2] re-deliver here
    val q2 = run()
    try {
      tbl.merge(kv(4L -> "d")) // v3
      q2.processAllAvailable()
    } finally q2.stop()
    assert(seen.sorted == Seq(
      (2L, "insert", 1L), (3L, "insert", 2L), (4L, "insert", 3L)),
      s"duplicated or lost intervals: $seen")
  }

  test("the start base persists in source metadata: recovery never re-bases on the restart head") {
    val s = spark
    val dir = freshDir()
    val meta = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0 — the stream is born here
    val provider = new org.apache.spark.sql.graft.SnapshotTableProvider
    def mkSource() = provider.createSource(s.sqlContext, meta, None, "",
      Map("path" -> dir, "key" -> "k"))
      .asInstanceOf[org.apache.spark.sql.graft.SnapshotChangeFeedSource]
    val s1 = mkSource()
    assert(s1.startBase == 0L)
    // the table moves on; a crash strikes before batch 0 was applied,
    // and the RESTARTED instance resolves at a later head — the
    // persisted base must still say v0, so the engine's WAL replay of
    // getBatch(None, v1) re-derives the original interval, not an
    // empty one re-based on the restart-time head
    tbl.merge(kv(2L -> "b")) // v1
    tbl.merge(kv(3L -> "c")) // v2
    val s2 = mkSource()
    assert(s2.startBase == 0L,
      s"restart re-based the stream at ${s2.startBase} — batch replay would be empty")
    // a DIFFERENT stream (fresh metadata) defaults to its own birth head
    val s3 = provider.createSource(s.sqlContext, freshDir(), None, "",
      Map("path" -> dir, "key" -> "k"))
      .asInstanceOf[org.apache.spark.sql.graft.SnapshotChangeFeedSource]
    assert(s3.startBase == 2L)
    // and an explicit startingVersion persists the same way
    val meta2 = freshDir()
    val s4 = provider.createSource(s.sqlContext, meta2, None, "",
      Map("path" -> dir, "key" -> "k", "startingVersion" -> "1"))
      .asInstanceOf[org.apache.spark.sql.graft.SnapshotChangeFeedSource]
    assert(s4.startBase == 1L)
  }

  test("a torn-claim gap inside the rate-limit window never wedges the stream") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0
    tbl.merge(kv(2L -> "b")) // v1
    // a crashed writer's debris: version 2 claimed, never committed,
    // never cleaned — a PERMANENT gap in the committed numbering
    val torn = new org.apache.hadoop.fs.Path(dir, f"manifests/v${2L}%019d.json")
    val fs = torn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(torn, false)
    try out.write("#parent 1\n#op merge".getBytes("UTF-8")) finally out.close()
    tbl.merge(kv(3L -> "c")) // claims PAST the torn debris → v3
    assert(tbl.currentVersion.contains(3L))
    // rate limit 1: the arithmetic cap after (0,1] is version 2 — the
    // gap. The offer must resolve onto the commit log (largest committed
    // <= cap, else the next committed), not aim at the phantom and wedge
    val q = feed(dir, "startingVersion" -> "0", "maxVersionsPerBatch" -> "1")
      .writeStream.format("memory").queryName("feed_gap").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("feed_gap").select("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(got == Seq((2L, "insert"), (3L, "insert")), s"lost or duplicated: $got")
    } finally q.stop()
    // an explicit startingVersion pointing AT the gap resolves onto the
    // commit log (nothing committed between 1 and the gap, so "changes
    // strictly after 2" == "changes strictly after 1") instead of
    // persisting a base every getBatch would fail on forever
    val q2 = feed(dir, "startingVersion" -> "2")
      .writeStream.format("memory").queryName("feed_gap2").outputMode("append").start()
    try {
      q2.processAllAvailable()
      val got2 = spark.table("feed_gap2").select("k").collect().map(_.getLong(0)).toSeq
      assert(got2 == Seq(3L), s"a gap base should deliver exactly v3's churn: $got2")
    } finally q2.stop()
    // and a base below the retained history fails FAST with the cause
    tbl.retire(keepLast = 1)
    val err = intercept[IllegalArgumentException] {
      new org.apache.spark.sql.graft.SnapshotTableProvider().createSource(
        spark.sqlContext, freshDir(), None, "",
        Map("path" -> dir, "key" -> "k", "startingVersion" -> "0"))
    }
    assert(err.getMessage.contains("retained history"), err.getMessage)
  }

  test("restart after add-column evolution: the replayed pre-evolution batch reads the column as null") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0: (k, v)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Option[String])]]
    @volatile var boom = true
    def run() = feed(dir, "startingVersion" -> "0")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        // fail AFTER the offset WAL logged the batch but BEFORE the
        // sink commit — the engine then must REPLAY this interval on
        // restart, through a source whose declared schema has evolved
        if (boom && !b.isEmpty) throw new RuntimeException("induced crash before sink commit")
        if (!b.isEmpty) {
          val cols = b.columns
          seen += b.collect().toSeq.map(r =>
            (r.getLong(cols.indexOf("k")),
              if (cols.contains("extra")) Option(r.getString(cols.indexOf("extra"))) else None))
        }
        ()
      }.start()
    val q1 = run()
    tbl.merge(kv(2L -> "b")) // v1: still (k, v)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    q1.stop()
    // the table evolves while the stream is down
    tbl.merge(Seq((3L, "c", "x")).toDF("k", "v", "extra")) // v2: (k, v, extra)
    boom = false
    val q2 = run() // restart: declared schema now carries `extra`; the
    try { //           WAL replay of (0,1] predates the evolution
      q2.processAllAvailable()
    } finally q2.stop()
    val flat = seen.flatten.sortBy(_._1)
    assert(flat == Seq((2L, None), (3L, Some("x"))),
      s"replayed interval lost or failed to null-fill the evolved column: $flat")
  }

  test("retire() past the checkpointed cursor fails with the retention fence, not a bare resolve error") {
    val dir = freshDir()
    val ckpt = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0
    def run() = feed(dir, "startingVersion" -> "0", "maxVersionsPerBatch" -> "1")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    val q1 = run()
    try {
      tbl.merge(kv(2L -> "b")) // v1 — the stream checkpoints its cursor here
      q1.processAllAvailable()
    } finally q1.stop()
    tbl.merge(kv(3L -> "c")) // v2
    tbl.merge(kv(4L -> "d")) // v3
    tbl.retire(keepLast = 1) // only v3 survives; the cursor (v1) is below retention
    val q2 = run()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      tbl.merge(kv(5L -> "e")) // wake the trigger
      q2.processAllAvailable(); q2.awaitTermination()
    }
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("retire() outran")),
      s"wanted the retention fence, got: ${messages(e).mkString(" | ")}")
  }

  test("sink keyed modes reject a duplicate-key FIRST batch as loudly as a later one") {
    val s = spark
    import s.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](s)
    input.addData((1L, "a"), (1L, "b"), (2L, "c")) // duplicate key 1 in batch 0
    val target = freshDir()
    val q = input.toDF().toDF("k", "v")
      .writeStream.format(provider)
      .option("path", target).option("key", "k").option("mode", "upsert")
      .option("checkpointLocation", freshDir())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("duplicate") && m.contains("key-unique")),
      s"wanted the key-uniqueness guard on batch 0, got: ${messages(e).mkString(" | ")}")
    // and the dup-key table was never created
    assert(!new SnapshotTable(spark, target, "k").exists)
  }

  test("cdc mirror with deleteVectorMaxRows: a batch's scattered deletes ride deletion vectors") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val src = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    val content = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    src.create(content.limit(0)) // v0: empty — the stream replays all content
    val mirrorDir = freshDir()
    val q = feed(dir, "startingVersion" -> "0")
      .writeStream.format(provider)
      .option("path", mirrorDir).option("key", "k").option("mode", "cdc")
      .option("clusterPartitions", "4")
      .option("deleteVectorMaxRows", "50")
      .option("checkpointLocation", freshDir())
      .start()
    val mirror = new SnapshotTable(spark, mirrorDir, "k")
    try {
      src.merge(content) // v1: the content lands
      q.processAllAvailable()
      assertSameRows(mirror.read(), src.read())
      val filesBefore = mirror.history.last._4
      val vBefore = mirror.currentVersion.get
      // a delete-only source commit: the mirror batch is pure deletes —
      // with the DV option it must not rewrite (or add) any data file
      src.delete(Seq(7L, 211L, 399L).toDF("k")) // v2 on the source
      q.processAllAvailable()
      assertSameRows(mirror.read(), src.read())
      assert(mirror.currentVersion.get > vBefore, "the delete batch must commit")
      assert(mirror.history.last._4 == filesBefore,
        "a scattered-delete CDC batch should land as deletion vectors, not rewrites")
      assert(mirror.filesAt(mirror.currentVersion.get).toSet ==
        mirror.filesAt(vBefore).toSet, "mirror data files changed under a DV batch")
    } finally q.stop()
  }

  test("schema evolution inside an interval: the stream keeps its declared columns") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0: (k, v)
    val q = feed(dir)
      .writeStream.format("memory").queryName("feed_evolve").outputMode("append").start()
    try {
      // the table evolves mid-stream: merge adds a nullable column
      tbl.merge(Seq((2L, "b", "x")).toDF("k", "v", "extra")) // v1: (k, v, extra)
      q.processAllAvailable()
      val rows = spark.table("feed_evolve")
      // declared schema (fixed at start) survives: no `extra` column,
      // the insert still arrives
      assert(rows.columns.toSeq == Seq("k", "v", "_change_type", "_commit_version"))
      assert(rows.select("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "insert")))
    } finally q.stop()
  }

  test("widen across the stream: a mid-stream widen fails loudly naming the restart; the restart serves wide and up-casts replays") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create((1 to 3).map(i => (i.toLong, i)).toDF("k", "n")) // v0: n INT
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run() = feed(dir, "startingVersion" -> "0")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) seen ++= b.select(col("k"), col("n").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    val q1 = run()
    q1.processAllAvailable() // nothing yet: the feed starts after v0
    // the column widens INSIDE the live stream's interval, and the next
    // commit carries a value only the WIDE type can hold — the
    // narrow-declared instance must fail LOUDLY with restart guidance
    // (a silent down-cast would corrupt; the engine's own mismatch
    // assertion would be opaque)
    tbl.widenColumn("n", org.apache.spark.sql.types.LongType) // v1
    tbl.merge(Seq((4L, 5000000000L)).toDF("k", "n")) // v2
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    q1.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("restart the stream") && m.contains("n")),
      s"wanted the widen fence with restart guidance, got: ${messages(e).mkString(" | ")}")
    // restart on the SAME checkpoint: the re-derived declared schema is
    // wide, the replayed interval reads wide, the BIGINT-only value lands
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.sortBy(_._1).toSeq == Seq((4L, 5000000000L)),
      s"the restarted stream must deliver the widened row exactly once: $seen")
  }

  test("Trigger.AvailableNow drains to the head captured at start across rate-limited batches, then stops — a mid-drain commit stays for the next run") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir()
    val ckpt = TestSpark.tempDir("graft-drain-ckpt").toString
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a"))  // v0 — the startingVersion=0 base
    tbl.merge(kv(2L -> "b"))   // v1
    tbl.merge(kv(3L -> "c"))   // v2
    tbl.merge(kv(4L -> "d"))   // v3 — the head the drain must capture
    val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    @volatile var injected = false
    def run(sink: (DataFrame, Long) => Unit) = feed(dir,
        "startingVersion" -> "0", "maxVersionsPerBatch" -> "1")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    val q = run { (b, _) =>
      buf.synchronized {
        buf ++= b.select("k", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      // one commit lands ABOVE the captured head, from inside the drain:
      // deterministic mid-drain interleaving (maxVersionsPerBatch=1
      // guarantees more batches follow this one)
      if (!injected) { injected = true; tbl.merge(kv(9L -> "late")) }
    }
    assert(q.awaitTermination(120000), "AvailableNow drain must self-terminate")
    // exactly (v0, v3]: keys 2,3,4 — one version per batch; key 9 (v4,
    // committed mid-drain) must NOT leak into this run
    assert(buf.sortBy(_._1).toSeq == Seq((2L, 1L), (3L, 2L), (4L, 3L)),
      s"drain delivered $buf")
    // a SECOND AvailableNow run on the same checkpoint picks up exactly
    // the mid-drain commit, then stops
    val buf2 = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q2 = run { (b, _) =>
      buf2.synchronized {
        buf2 ++= b.select("k", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
    }
    assert(q2.awaitTermination(120000), "second drain must self-terminate")
    assert(buf2.sortBy(_._1).toSeq == Seq((9L, 4L)), s"second drain delivered $buf2")
  }
}
