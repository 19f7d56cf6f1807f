package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.{SnapshotTable, Upsert}
import TestSpark._

/** The manifest-based ACID table ([[SnapshotTable]]): MERGE must equal
  * the pure-query upsert ([[Upsert.merge]]) while rewriting ONLY the
  * files the source's key range touches, readers must keep a consistent
  * snapshot across commits (immutable files + versioned manifests), and
  * concurrent/torn commits must fail loudly or be invisible — never
  * corrupt. */
class SnapshotTableSpec extends AnyFunSuite {

  private def freshDir(): String =
    TestSpark.tempDir("graft-snaptable").toString

  /** Files the manifest index handed `df`'s parquet scan: collects once,
    * then reads the scan node's `numFiles` metric — for reads planned
    * through a handle the spec does not hold (SQL views, the format
    * provider), whose `lastListedFiles` it cannot see. */
  private def listedFiles(df: DataFrame): Long = {
    val rel = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation
    }
    assert(rel.exists {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.isInstanceOf[graft.incremental.GraftFileIndex]
      case _ => false
    }, s"not a manifest-indexed read: $rel")
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc.metrics("numFiles").value
    }.get
  }

  private def kv(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  test("merge equals Upsert.merge: updates replace, inserts land, untouched rows survive") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    val existing = kv(1L -> "a", 2L -> "b", 3L -> "c")
    val incoming = kv(2L -> "B", 4L -> "d") // update 2, insert 4
    tbl.create(existing)
    tbl.merge(incoming)
    assertSameRows(tbl.read(), Upsert.merge(existing, incoming, Seq("k")))
    assert(tbl.history.map(_._3) == Seq("create", "merge"))
  }

  test("snapshot isolation + time travel: committed versions stay readable and unchanged") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    val v0 = tbl.create(kv(1L -> "a", 2L -> "b"))
    // a reader resolves version v0 BEFORE the merge commits
    val before = collectSorted(tbl.readVersion(v0))
    val v1 = tbl.merge(kv(2L -> "B"))
    // ... and still reads exactly v0's rows after: data files are
    // immutable, the merge only added files + a new manifest
    assert(collectSorted(tbl.readVersion(v0)) == before)
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "B"))
    assert(tbl.currentVersion.contains(v1))
    // overwrite keeps the lineage readable too
    tbl.create(kv(9L -> "z"))
    assert(collectSorted(tbl.readVersion(v0)) == before)
    assert(tbl.history.map(_._3) == Seq("create", "merge", "overwrite"))
  }

  test("merge rewrites only files whose key range the source touches") {
    val s = spark
    import s.implicits._
    // pinned 4-file layout: AQE would coalesce this tiny frame to one
    // range partition, hiding the pruning behavior under test
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val filesBefore = tbl.history.last._4
    assert(filesBefore > 1, s"need multiple files to observe pruning, got $filesBefore")
    // the source touches only the top of the key space
    tbl.merge(kv(399L -> "X", 400L -> "Y", 401L -> "Z"))
    // result correct...
    assert(tbl.read().count() == 401)
    assert(tbl.read().filter(col("k") === 399L).select("v").head.getString(0) == "X")
    // ...and low-range files carried forward BY REFERENCE: parquet file
    // modification times in the table dir must include files older than
    // the merge (same physical files, not rewrites). Cheaper check:
    // row-weighted file count — the untouched majority of rows still
    // lives in the original files, so the new manifest reuses most of
    // the old one's entries. We assert via the manifest diff exposed by
    // time travel: the v0 file set intersected with v1's is non-empty.
    val v0Files = tbl.readVersion(0).inputFiles.toSet
    val v1Files = tbl.readVersion(1).inputFiles.toSet
    val carried = v0Files.intersect(v1Files)
    assert(carried.nonEmpty, "no file carried forward by reference — pruning is not working")
    assert((v1Files -- v0Files).nonEmpty, "merge wrote no new files")
    // the carried files are exactly the ones the source range missed:
    // every carried file's max key must sit below the source's min
    val carriedMax = spark.read.parquet(carried.toSeq: _*).agg(max(col("k"))).head.getLong(0)
    assert(carriedMax < 399L, s"a carried file overlaps the merge range (max=$carriedMax)")
  }

  test("sparse adversarial batch: two keys at opposite ends of the domain touch exactly two files") {
    val s = spark
    import s.implicits._
    // the late-CDC-update shape: one backdated key + one fresh key. A
    // single [min,max] envelope prune would widen to the whole table
    // and rewrite every file in between; the key-SET prune must touch
    // only the two files that actually hold the keys.
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10))
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val filesBefore = tbl.filesAt(v0).size
    assert(filesBefore >= 4, s"need a multi-file layout, got $filesBefore")
    val v1 = tbl.merge(kv(1L -> "LOW", 400L -> "HIGH"))
    assertSameRows(tbl.read().filter(col("k").isin(1L, 400L)),
      kv(1L -> "LOW", 400L -> "HIGH"))
    assert(tbl.read().count() == 400)
    val carried = tbl.filesAt(v0).toSet.intersect(tbl.filesAt(v1).toSet)
    assert(carried.size == filesBefore - 2,
      s"expected exactly 2 touched files, rewrote ${filesBefore - carried.size} of $filesBefore")
    // DELETE shares the prune: two doomed keys at the extremes
    val v2 = tbl.delete(Seq(2L, 399L).toDF("k"))
    assert(tbl.read().count() == 398)
    val carriedDel = tbl.filesAt(v1).toSet.intersect(tbl.filesAt(v2).toSet)
    assert(carriedDel.size >= tbl.filesAt(v1).size - 2,
      s"delete rewrote ${tbl.filesAt(v1).size - carriedDel.size} files for a 2-key batch")
  }

  test("past the set cap the prune falls back to range-clustered sub-ranges, still sparse-safe") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10))
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val filesBefore = tbl.filesAt(v0).size
    tbl.pruneSetCap = 4 // force the over-cap sub-range route for a 5-key batch
    val v1 = tbl.merge(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 400L -> "z")
      .toDF("k", "v"))
    assert(tbl.read().count() == 400)
    assert(tbl.read().filter(col("k") === 400L).select("v").head.getString(0) == "z")
    // 5 keys over 64 range buckets: each sub-range is tight around its
    // keys, so the untouched middle of the table still carries forward
    val carried = tbl.filesAt(v0).toSet.intersect(tbl.filesAt(v1).toSet)
    assert(carried.size >= filesBefore - 3,
      s"sub-range prune rewrote ${filesBefore - carried.size} of $filesBefore files")
  }

  test("empty delete is a no-op — never a full-table rewrite that removes nothing") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    val v0 = tbl.create(kv(1L -> "a", 2L -> "b"))
    val empty = Seq.empty[Long].toDF("k")
    assert(tbl.delete(empty) == v0, "empty delete must return the current version")
    assert(tbl.history.size == 1, "empty delete must not commit")
    // with a tag to record, it degrades to a tag-only commit: same file
    // set by reference, zero files staged
    val v1 = tbl.delete(empty, tag = "forget-batch-7")
    assert(v1 > v0)
    assert(tbl.currentTag.contains("forget-batch-7"))
    assert(tbl.filesAt(v1).toSet == tbl.filesAt(v0).toSet, "tag-only commit staged files")
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
  }

  test("string-key stats honor UTF-8 byte order for supplementary characters (readRange + merge)") {
    val s = spark
    import s.implicits._
    // U+FF01 (！ efbc81) sorts BELOW U+1F600 (😀 f09f9880) in UTF-8 byte
    // order — Spark's binary collation, which the file min/max stats use
    // — but ABOVE it in UTF-16 code units (FF01 > D83D). A UTF-16
    // comparator would prune the file that truly holds 😀.
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(1))
    tbl.create(Seq(("！", "bang"), ("😀", "grin")).toDF("k", "v"))
    val hit = tbl.readRange(Some("😀"), Some("😀"))
    assert(hit.count() == 1, "readRange dropped a row inside the file's true key range")
    assert(hit.select("v").head.getString(0) == "grin")
    // merge on the supplementary key must REPLACE, not duplicate-insert
    tbl.merge(Seq(("😀", "GRIN")).toDF("k", "v"))
    assert(tbl.read().count() == 2, "pruning skipped the overlapping file — duplicate key")
    assert(tbl.read().filter(col("k") === "😀")
      .select("v").head.getString(0) == "GRIN")
  }

  test("a retraction racing a reader resolves to the previous committed version, not an error") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a"))
    val v1 = tbl.merge(kv(1L -> "b"))
    // simulate the visible-then-retracted window: v1's manifest vanishes
    // (a lost-update loser deletes its own terminated manifest) between
    // a reader's two resolutions
    Files.delete(java.nio.file.Paths.get(dir, "manifests", f"v$v1%019d.json"))
    assertSameRows(tbl.read(), kv(1L -> "a"))
    assert(tbl.currentVersion.contains(0L))
  }

  test("date-keyed pruning is exact (the weekly-summary shape)") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "wk", clusterPartitions = Some(4))
    val weeks = (0 until 200).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.parse("2001-01-01").plusWeeks(i)), i))
    tbl.create(weeks.toDF("wk", "n"))
    // 2001-01-01 + 198 weeks = 2004-10-18: an UPDATE of an existing week
    tbl.merge(Seq((java.sql.Date.valueOf("2004-10-18"), 999)).toDF("wk", "n"))
    assert(tbl.read().count() == 200)
    assert(tbl.read().filter(col("wk") === lit(java.sql.Date.valueOf("2004-10-18")))
      .select("n").head.getInt(0) == 999)
    val carried = tbl.readVersion(0).inputFiles.toSet
      .intersect(tbl.readVersion(1).inputFiles.toSet)
    assert(carried.nonEmpty, "date stats failed to prune any file")
  }

  test("optimistic concurrency: a merge derived from a stale snapshot fails loudly") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    val v0 = tbl.create(kv(1L -> "a"))
    // writer A lands first
    tbl.merge(kv(1L -> "A"))
    // writer B derived its batch from v0 — compare-and-swap rejects it
    val e = intercept[ConcurrentModificationException](
      tbl.merge(kv(1L -> "B"), expectedVersion = Some(v0)))
    assert(e.getMessage.contains("expected"))
    // A's update survived
    assert(tbl.read().select("v").head.getString(0) == "A")
  }

  test("lost-update under torn-manifest interleaving: the slower racer retracts, never two silent successes") {
    // The race: writer A claims v1 (create-exclusive ok) but its
    // manifest is still torn; writer B, derived from the SAME base v0,
    // claims past the torn v1 to v2, commits, and its interloper checks
    // see only A's torn (invisible) claim — B legitimately succeeds.
    // A must now catch B's commit ABOVE its own claim (v2 > base,
    // v2 != target) and abort — under the old `v < target` filter both
    // writers reported success and A's merge was silently lost. (Since
    // r14 the catch normally fires at the PRE-terminate check, so A
    // aborts while still invisible; the residual post-terminate window
    // is staged separately below.)
    val dir = freshDir()
    val a = new SnapshotTable(spark, dir, "k")
    val b = new SnapshotTable(spark, dir, "k")
    a.create(kv(1L -> "a", 2L -> "b"))
    var bVersion = -1L
    a.onAfterClaim = () => {
      // fires once, between A's claim and A's body write; clear it so
      // no further commit (including B's, on its own instance) recurses
      a.onAfterClaim = () => ()
      assert(b.currentVersion.contains(0L), "A's torn claim must be invisible to B")
      bVersion = b.merge(kv(2L -> "B2")) // B commits from the same base
    }
    val e = intercept[ConcurrentModificationException](a.merge(kv(1L -> "A1")))
    assert(e.getMessage.contains("advanced"), s"wrong failure: ${e.getMessage}")
    assert(bVersion == 2L, s"B should have claimed past A's torn v1, got $bVersion")
    // A retracted its manifest into a torn TOMBSTONE: the file stays
    // (so the version NUMBER is never re-claimed — what keeps the parse
    // cache's validated hits sound) but is never readable as a version
    val p1 = java.nio.file.Paths.get(dir, "manifests", f"v${1L}%019d.json")
    assert(Files.exists(p1), "retraction must tombstone, not delete (number reuse)")
    assert(!Files.readString(p1).contains("#commit"), "tombstone must read as torn")
    // the table reads B's committed result — A's merge failed LOUDLY,
    // so the caller re-reads and retries; retrying now lands cleanly
    assertSameRows(a.read(), kv(1L -> "a", 2L -> "B2"))
    assert(a.history.map(_._1) == Seq(0L, 2L))
    a.merge(kv(1L -> "A1"))
    assertSameRows(a.read(), kv(1L -> "A1", 2L -> "B2"))
  }

  test("a lost race caught by the pre-terminate check aborts while still invisible (no phantom commit)") {
    // Same interleaving as the torn-manifest case, but the observable
    // difference matters: A's manifest must NEVER have been committed-
    // visible — the abort happens before the terminator is written, so
    // no reader can have observed a version that then vanishes.
    val dir = freshDir()
    val a = new SnapshotTable(spark, dir, "k")
    val b = new SnapshotTable(spark, dir, "k")
    a.create(kv(1L -> "a"))
    var observedDuringRace = Option.empty[Long]
    a.onAfterClaim = () => {
      a.onAfterClaim = () => ()
      b.merge(kv(1L -> "B")) // racer lands while A is pre-terminate
      observedDuringRace = b.currentVersion
    }
    intercept[ConcurrentModificationException](a.merge(kv(1L -> "A")))
    // A's claim file is gone AND was never terminated: the only
    // committed versions ever observable were v0 and B's v2
    assert(observedDuringRace.contains(2L))
    assert(a.history.map(_._1) == Seq(0L, 2L))
    assertSameRows(a.read(), kv(1L -> "B"))
  }

  test("a racer landing between pre-check and terminator is caught by the post-check and retracted") {
    val dir = freshDir()
    val a = new SnapshotTable(spark, dir, "k")
    val b = new SnapshotTable(spark, dir, "k")
    a.create(kv(1L -> "a"))
    var fired = false
    a.onBeforeTerminate = () => {
      // fires in the residual window: A's pre-check already passed, the
      // terminator is not yet written; clear the seam so B's own commit
      // (same instance-independent table) doesn't recurse
      if (!fired) { fired = true; b.merge(kv(1L -> "B")) }
    }
    val e = intercept[ConcurrentModificationException](a.merge(kv(1L -> "A")))
    assert(e.getMessage.contains("advanced"))
    // A terminated (briefly visible) then retracted — at most one
    // success, and the table converges on B's commit
    assert(a.history.map(_._1) == Seq(0L, 2L))
    assertSameRows(a.read(), kv(1L -> "B"))
    // A's retracted manifest is a torn tombstone — number claimed for
    // good, content never readable
    val pA = java.nio.file.Paths.get(dir, "manifests", f"v${1L}%019d.json")
    assert(Files.exists(pA) && !Files.readString(pA).contains("#commit"))
    // and retire() sweeps tombstones below the kept window
    b.merge(kv(1L -> "B2")) // v3: give retire a window to keep
    b.retire(keepLast = 1)
    assert(!Files.exists(pA), "retire should drop unreachable tombstones")
    assertSameRows(b.read(), kv(1L -> "B2"))
  }

  test("mergeWith retries a lost race by re-deriving from the fresh snapshot — both writers land, serialized") {
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k")
    val b = new SnapshotTable(spark, dir, "k")
    t.create(kv(1L -> "a", 2L -> "b"))
    // one interloper: B commits from the same base while T's first
    // attempt is mid-commit (torn), so T's attempt 1 retracts
    var fired = false
    t.onAfterClaim = () => {
      if (!fired) { fired = true; b.merge(kv(2L -> "B")) }
    }
    var derives = 0
    t.mergeWith { snap =>
      derives += 1
      // derived FROM the snapshot: uppercase key 1's current value —
      // the retry must see the state B committed
      snap.filter(col("k") === 1L).select(col("k"), upper(col("v")).as("v"))
    }
    assert(derives == 2, s"attempt 1 must lose and re-derive, got $derives derivations")
    assertSameRows(t.read(), kv(1L -> "A", 2L -> "B"))
  }

  test("a torn manifest is invisible to readers and never wedges the table") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a"))
    // a crashed writer left a claimed-but-unterminated manifest at v1
    Files.writeString(
      java.nio.file.Paths.get(dir, "manifests", f"v${1L}%019d.json"),
      "#graft-snapshot 1\n#parent 0\n#op merge\n")
    // readers still resolve v0
    assertSameRows(tbl.read(), kv(1L -> "a"))
    assert(tbl.currentVersion.contains(0L))
    // and the next commit claims PAST the torn version instead of
    // colliding with it
    val v = tbl.merge(kv(2L -> "b"))
    assert(v == 2L, s"expected the torn v1 to be skipped, claimed $v")
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
  }

  test("a key-duplicated source is rejected (ambiguous update), like the reference's ON CONFLICT") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    tbl.create(kv(1L -> "a"))
    val e = intercept[IllegalArgumentException](
      tbl.merge(kv(2L -> "x", 2L -> "y")))
    assert(e.getMessage.contains("key-unique"))
    assertSameRows(tbl.read(), kv(1L -> "a")) // nothing committed
  }

  test("keyed delete drops exactly the doomed keys, prunes by file range, and is CAS-guarded") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    // doomed keys live at the top of the key space only
    val v1 = tbl.delete(Seq(398L, 399L, 400L).toDF("k"))
    assert(tbl.read().count() == 397)
    assert(tbl.read().filter(col("k") >= 398L).count() == 0)
    // low-range files carried forward by reference (pruned out of the rewrite)
    val carried = tbl.readVersion(0).inputFiles.toSet
      .intersect(tbl.readVersion(v1).inputFiles.toSet)
    assert(carried.nonEmpty, "delete rewrote unpruned files")
    // pre-delete snapshot still readable (the forget two-step: retire + vacuum)
    assert(tbl.readVersion(0).count() == 400)
    // stale-snapshot CAS
    val e = intercept[java.util.ConcurrentModificationException](
      tbl.delete(Seq(1L).toDF("k"), expectedVersion = Some(0L)))
    assert(e.getMessage.contains("expected"))
    assert(tbl.history.map(_._3) == Seq("create", "delete"))
  }

  test("schema evolution: a merge may add a nullable column; pre-evolution files read it as null, unrewritten") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    // add-column merge that touches only the top of the key range
    tbl.merge(Seq((400L, "X", Some("en")), (401L, "Y", Some("fr"))).toDF("k", "v", "lang"))
    val out = tbl.read()
    assert(out.schema.fieldNames.toSeq == Seq("k", "v", "lang"))
    assert(out.count() == 401)
    assert(out.filter(col("k") === 401L).select("lang").head.getString(0) == "fr")
    // rows committed before the evolution read the new column as null —
    // via the schema, not a rewrite: low-range files carried by reference
    assert(out.filter(col("lang").isNull).count() == 399)
    val carried = tbl.readVersion(0).inputFiles.toSet
      .intersect(tbl.readVersion(1).inputFiles.toSet)
    assert(carried.nonEmpty, "evolution forced a full rewrite")
    // key min/max pruning stays live across the evolution boundary
    tbl.merge(Seq((1L, "A", Some("de"))).toDF("k", "v", "lang"))
    assert(tbl.readVersion(1).inputFiles.toSet
      .intersect(tbl.readVersion(2).inputFiles.toSet).nonEmpty)
    assert(tbl.read().filter(col("k") === 1L).select("v").head.getString(0) == "A")
    // rejected loudly: dropped column, type change, non-nullable addition
    intercept[IllegalArgumentException](tbl.merge(Seq((5L, "q")).toDF("k", "v")))
    intercept[IllegalArgumentException](
      tbl.merge(Seq((5L, 9, Some("x"))).toDF("k", "v", "lang")))
    intercept[IllegalArgumentException](tbl.merge(
      Seq((5L, "q", Some("x"))).toDF("k", "v", "lang").withColumn("score", lit(1.0))))
    assert(tbl.history.size == 3, "a rejected write must commit nothing")
    // delete crosses the evolution boundary too (old files, new schema)
    tbl.delete(Seq(2L).toDF("k"))
    assert(tbl.read().count() == 400)
    assert(tbl.read().filter(col("k") === 2L).count() == 0)
  }

  test("vacuum reclaims only unreferenced orphans — every committed version stays readable") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a", 2L -> "b"))
    tbl.merge(kv(2L -> "B")) // v0's touched file is now referenced ONLY by v0
    val v0Before = collectSorted(tbl.readVersion(0))
    // a crashed commit's stranded stage: data written, no manifest
    val orphan = java.nio.file.Paths.get(dir, "data", "crashed-commit", "part-0.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val deleted = tbl.vacuum(graceMs = 0)
    assert(deleted.exists(_.contains("crashed-commit")), s"orphan not reclaimed: $deleted")
    // besides the planted orphan, only unreferenced write debris
    // (_SUCCESS markers, empty part files) may go — never manifest
    // entries, which the version reads below prove survived
    // time travel intact: v0's superseded file was referenced, so it survived
    assert(collectSorted(tbl.readVersion(0)) == v0Before)
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "B"))
    // a fresh stage inside the grace window is NOT reclaimed
    val inflight = java.nio.file.Paths.get(dir, "data", "live-writer", "part-0.parquet")
    java.nio.file.Files.createDirectories(inflight.getParent)
    java.nio.file.Files.write(inflight, Array[Byte](4, 5))
    assert(tbl.vacuum(graceMs = 600000).isEmpty)
    assert(java.nio.file.Files.exists(inflight))
  }

  test("readRange prunes files from the manifest before the scan opens them") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val allFiles = tbl.read().inputFiles.toSet
    assert(allFiles.size > 1)
    // a narrow band reads a strict subset of the files...
    val band = tbl.readRange(Some(10L), Some(20L))
    assert(band.inputFiles.toSet.subsetOf(allFiles))
    assert(band.inputFiles.length < allFiles.size,
      s"no file pruned: ${band.inputFiles.length} of ${allFiles.size}")
    // ...and exactly the requested rows (boundary files are filtered)
    assert(band.count() == 11)
    assert(band.agg(min(col("k")), max(col("k"))).head() ==
      org.apache.spark.sql.Row(10L, 20L))
    // half-open ranges prune on the bounded side only
    assert(tbl.readRange(Some(390L), None).count() == 11)
    assert(tbl.readRange(Some(390L), None).inputFiles.length < allFiles.size)
    assert(tbl.readRange(None, Some(5L)).count() == 5)
    // unbounded = read()
    assert(tbl.readRange(None, None).count() == 400)
  }

  test("changesBetween: row-level feed, manifest-diff pruned, updates as removed/added pairs") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    // update 1 key at the top, insert 1 beyond it
    val v1 = tbl.merge(kv(400L -> "X", 401L -> "Y"))
    val chg = tbl.changesBetween(v0, v1)
    assertSameRows(chg, Seq(
      (400L, "X", "added"), (401L, "Y", "added"), (400L, "v400", "removed"))
      .toDF("k", "v", "_change"))
    // manifest-diff pruning: files carried BETWEEN the versions never
    // open — the feed reads only the churn (v0's one touched file +
    // v1's fresh files)
    val carried = tbl.readVersion(v0).inputFiles.toSet
      .intersect(tbl.readVersion(v1).inputFiles.toSet)
    assert(carried.nonEmpty, "layout did not carry any file — pruning unobservable")
    assert(chg.inputFiles.toSet.intersect(carried).isEmpty,
      "change feed opened a carried file — manifest-diff pruning broken")
    // a version with NO row changes (tag-only) yields an empty feed
    val v2 = tbl.setTag("wm-9")
    assert(tbl.changesBetween(v1, v2).isEmpty)
    // across add-column evolution: pre-evolution rows read null
    val v3 = tbl.merge(Seq((1L, "A", Some("en"))).toDF("k", "v", "lang"))
    val evo = tbl.changesBetween(v2, v3).filter(col("_change") === "added")
    assert(evo.count() == 1)
    assert(evo.select("lang").head.getString(0) == "en")
    // addressed by tag
    tbl.setTag("wm-10")
    assert(tbl.changesBetweenTags("wm-9", "wm-10").count() ==
      tbl.changesBetween(v2, tbl.currentVersion.get).count())
    // delete surfaces as removed-only
    val vPre = tbl.currentVersion.get
    val vDel = tbl.delete(Seq(2L).toDF("k"))
    val delFeed = tbl.changesBetween(vPre, vDel)
    assert(delFeed.count() == 1)
    assert(delFeed.head.getString(delFeed.schema.fieldIndex("_change")) == "removed")
  }

  test("changesKeyed folds the row feed to CDC grain: insert/update/delete with the right image") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    // one commit carrying all three change classes
    val v1 = tbl.applyDelta(kv(400L -> "X", 401L -> "Y"), Seq(1L, 2L).toDF("k"))
    assertSameRows(tbl.changesKeyed(v0, v1), Seq(
      (400L, "X", "update"),   // post-image
      (401L, "Y", "insert"),
      (1L, "v1", "delete"),    // pre-image
      (2L, "v2", "delete"))
      .toDF("k", "v", "_change_type"))
    // COW-moved-but-identical rows never surface as phantom updates,
    // and a rewrite-only interval is empty at CDC grain too
    val v2 = tbl.optimize(smallBytes = Long.MaxValue)
    assert(tbl.changesKeyed(v1, v2).isEmpty)
    // multi-commit interval folds per key (update then delete = delete)
    tbl.merge(kv(10L -> "ten-a"))
    val v4 = tbl.delete(Seq(10L).toDF("k"))
    val folded = tbl.changesKeyed(v1, v4).filter(col("k") === 10L)
    assert(folded.count() == 1)
    assert(folded.head.getString(2) == "delete")
    assert(folded.head.getString(1) == "v10", "delete must carry the INTERVAL-START pre-image")
  }

  test("change feed is rewrite-op-aware: optimize churn never enters the scan; net-zero rows cancel") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    // merge, then compact EVERYTHING (huge smallBytes threshold): the
    // optimize rewrites the full table into new paths, so an endpoint
    // path-diff would scan the whole compacted mass to find only the
    // merge's churn — the 100 TB post-compaction sync shape
    val v1 = tbl.merge(kv(400L -> "X", 999L -> "ins"))
    val v2 = tbl.optimize(smallBytes = Long.MaxValue)
    assert(v2 > v1 && tbl.history.last._3 == "optimize")
    val compactionOutputs = tbl.filesAt(v2).toSet -- tbl.filesAt(v1).toSet
    assert(compactionOutputs.nonEmpty, "optimize rewrote nothing — shape unobservable")
    // the feed across the compaction equals the merge's logical churn...
    assertSameRows(tbl.changesBetween(v0, v2), Seq(
      (400L, "X", "added"), (999L, "ins", "added"), (400L, "v400", "removed"))
      .toDF("k", "v", "_change"))
    // ...and its scan set EXCLUDES the compaction's outputs entirely
    val (beforeScan, afterScan, _) = tbl.changeScanPaths(v0, v2)
    assert((beforeScan ++ afterScan).toSet.intersect(compactionOutputs).isEmpty,
      "feed scanned compaction outputs — rewrite-op decomposition broken")
    // a rewrite-only interval is an EMPTY feed with an empty scan
    assert(tbl.changesBetween(v1, v2).isEmpty)
    val (b12, a12, _) = tbl.changeScanPaths(v1, v2)
    assert(b12.isEmpty && a12.isEmpty)
    // rows that net out ACROSS segments cancel: 999 was inserted before
    // the compaction; delete it after — the v0..v3 feed must not carry
    // it in either direction (endpoint multiset semantics preserved)
    val v3 = tbl.delete(Seq(999L).toDF("k"))
    val feed = tbl.changesBetween(v0, v3)
    assert(feed.filter(col("k") === 999L).isEmpty,
      "an insert-then-delete across an optimize boundary must net to nothing")
    assertSameRows(feed, Seq((400L, "X", "added"), (400L, "v400", "removed"))
      .toDF("k", "v", "_change"))
    // a restore is a REAL logical change — never skipped like optimize
    val v4 = tbl.restore(v0)
    val restFeed = tbl.changesBetween(v3, v4)
    assert(restFeed.filter(col("_change") === "removed")
      .filter(col("k") === 400L).count() == 1, "restore must surface in the feed")
  }

  test("change feed cuts each segment to the keys its keyed commits recorded") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    def restriction(from: Long, to: Long) = tbl.changeScanPaths(from, to)._3
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    // merge, delete and applyDelta each record their batch keys (a
    // delete key that matches no row included); a tag commit adds none
    val v1 = tbl.merge(kv(5L -> "five", 401L -> "new"))
    val v2 = tbl.delete(Seq(7L, 999L).toDF("k"))
    val v3 = tbl.applyDelta(kv(9L -> "nine"), Seq(11L).toDF("k"))
    val v4 = tbl.setTag("t4")
    assert(restriction(v0, v4) == Seq(Some(Set(5L, 401L, 7L, 999L, 9L, 11L))))
    assert(restriction(v1, v2) == Seq(Some(Set(7L, 999L))))
    assert(restriction(v3, v4) == Seq(Some(Set.empty)))
    assert(tbl.changeScanPaths(v3, v4)._1.isEmpty)
    assertSameRows(tbl.changesKeyed(v0, v4), Seq(
      (5L, "five", "update"), (401L, "new", "insert"), (9L, "nine", "update"),
      (7L, "v7", "delete"), (11L, "v11", "delete")).toDF("k", "v", "_change_type"))
    // append, restore, the uncollected route and a key set past the
    // inline cap record nothing: every interval holding one diffs whole
    val v5 = tbl.append(kv(500L -> "app"))
    val v6 = tbl.restore(v3)
    tbl.pruneSetCap = 1
    val v7 = try tbl.merge(kv(20L -> "a", 21L -> "b")) finally tbl.pruneSetCap = 100000L
    val v8 = tbl.merge((1000L to 3048L).map(i => (i, s"w$i")).toDF("k", "v"))
    Seq(v4 -> v5, v3 -> v5, v5 -> v6, v6 -> v7, v7 -> v8, v0 -> v8).foreach { case (a, b) =>
      assert(restriction(a, b) == Seq(None), s"v$a..v$b must be unrestricted")
    }
    // an optimize splits the interval; each side of it restricts alone
    val v9 = tbl.merge(kv(30L -> "x"))
    tbl.optimize(smallBytes = Long.MaxValue)
    val v11 = tbl.delete(Seq(31L).toDF("k"))
    assert(restriction(v8, v11) == Seq(Some(Set(30L)), Some(Set(31L))))
    assert(restriction(v7, v11) == Seq(None, Some(Set(31L))))
    // add-column and widen commits change no entry: they add no key
    tbl.addColumn("n", org.apache.spark.sql.types.IntegerType)
    val v13 = tbl.widenColumn("n", org.apache.spark.sql.types.LongType)
    assert(restriction(v11, v13) == Seq(Some(Set.empty)))
    assert(tbl.changesBetween(v11, v13).isEmpty)
    // string and date keys decode back to the values they recorded, the
    // empty string included
    val str = new SnapshotTable(spark, freshDir(), "k")
    val s0 = str.create(Seq(("", "e"), ("a", "x"), ("b", "y")).toDF("k", "v"))
    val s1 = str.applyDelta(Seq(("", "E"), ("c", "z")).toDF("k", "v"), Seq("b").toDF("k"))
    assert(str.changeScanPaths(s0, s1)._3 == Seq(Some(Set("", "b", "c"))))
    assertSameRows(str.changesKeyed(s0, s1), Seq(("", "E", "update"), ("c", "z", "insert"),
      ("b", "y", "delete")).toDF("k", "v", "_change_type"))
    val dated = new SnapshotTable(spark, freshDir(), "k")
    val day = java.time.LocalDate.of(2005, 5, 24)
    val d0 = dated.create(Seq((java.sql.Date.valueOf(day), "a")).toDF("k", "v"))
    val d1 = dated.merge(Seq((java.sql.Date.valueOf(day.plusDays(1)), "b")).toDF("k", "v"))
    assert(dated.changeScanPaths(d0, d1)._3 == Seq(Some(Set(day.plusDays(1)))))
    assert(dated.changesKeyed(d0, d1).select("v", "_change_type").as[(String, String)]
      .collect().toSeq == Seq(("b", "insert")))
    // an opaque (binary) key records nothing
    val bin = new SnapshotTable(spark, freshDir(), "k")
    val b0 = bin.create(Seq((Array[Byte](1), "a"), (Array[Byte](2), "b")).toDF("k", "v"))
    val b1 = bin.merge(Seq((Array[Byte](2), "B")).toDF("k", "v"))
    assert(bin.changeScanPaths(b0, b1)._3 == Seq(None))
    assert(bin.changesKeyed(b0, b1).select("v", "_change_type").as[(String, String)]
      .collect().toSeq == Seq(("B", "update")))
    // a legacy table (no #keys line in any manifest) reads unrestricted
    // and gives the same feeds
    val intervals = Seq(v0 -> v4, v1 -> v3, v8 -> v11, v0 -> v13)
    val rowFeeds = intervals.map { case (a, b) => collectSorted(tbl.changesBetween(a, b)) }
    val keyFeeds = intervals.map { case (a, b) => collectSorted(tbl.changesKeyed(a, b)) }
    Files.list(java.nio.file.Paths.get(dir, "manifests")).forEach { p =>
      val kept = Files.readAllLines(p).toArray.map(_.toString).filterNot(_.startsWith("#keys "))
      Files.write(p, kept.mkString("\n").getBytes("UTF-8"))
    }
    val legacy = new SnapshotTable(spark, dir, "k")
    intervals.zip(rowFeeds.zip(keyFeeds)).foreach { case ((a, b), (rowFeed, keyFeed)) =>
      assert(legacy.changeScanPaths(a, b)._3.forall(_.isEmpty), s"legacy v$a..v$b restricted")
      assert(collectSorted(legacy.changesBetween(a, b)) == rowFeed, s"legacy row feed v$a..v$b")
      assert(collectSorted(legacy.changesKeyed(a, b)) == keyFeed, s"legacy keyed feed v$a..v$b")
    }
  }

  test("SnapshotSync across auto-compaction: merge churn applies, optimize-only advances tag-only") {
    import graft.incremental.SnapshotSync
    val s = spark
    import s.implicits._
    val src = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    val mir = new SnapshotTable(spark, freshDir(), "k")
    src.create((1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"))
    SnapshotSync.sync(src, mir)
    // merge + compaction between syncs: the mirror commit applies
    // exactly the merge's churn, as a real delta
    src.merge(kv(5L -> "FIVE", 201L -> "ins"))
    src.optimize(smallBytes = Long.MaxValue)
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    assert(mir.history.last._3 == "delta")
    // compaction-ONLY interval: the cursor advances as a tag-only
    // commit — no contentless data version, no staged empty file set
    val mirFiles = mir.read().inputFiles.toSet
    src.optimize(smallBytes = Long.MaxValue)
    src.optimize(smallBytes = Long.MaxValue)
    SnapshotSync.sync(src, mir)
    assert(mir.history.last._3 == "tag",
      s"optimize-only sync committed ${mir.history.last._3}, want tag-only")
    assert(mir.read().inputFiles.toSet == mirFiles, "tag-only sync must not touch data")
    assertSameRows(mir.read(), src.read())
    // cursor advanced: re-sync is a no-op
    val v = mir.currentVersion
    SnapshotSync.sync(src, mir)
    assert(mir.currentVersion == v)
    // feed-following still resumes normally after
    src.merge(kv(7L -> "SEVEN"))
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
  }

  test("applyDelta: combined upsert+delete in one commit, file-pruned, upsert-wins on overlap") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10))
    val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val filesBefore = tbl.filesAt(v0).size
    // delete 2 at the bottom, update 1 + insert 1 at the top — one commit
    val v1 = tbl.applyDelta(kv(400L -> "X", 401L -> "Y"), Seq(1L, 2L).toDF("k"))
    assert(tbl.history.map(_._3) == Seq("create", "delta"))
    assert(tbl.read().count() == 399) // -2 deletes +1 insert
    assert(tbl.read().filter(col("k").isin(1L, 2L)).isEmpty)
    assert(tbl.read().filter(col("k") === 400L).select("v").head.getString(0) == "X")
    // pruning spans BOTH key sets and nothing more: extremes touch 2 files
    val carried = tbl.filesAt(v0).toSet.intersect(tbl.filesAt(v1).toSet)
    assert(carried.size >= filesBefore - 3,
      s"applyDelta rewrote ${filesBefore - carried.size} of $filesBefore files")
    // a key in both halves lands as its upsert (upsert wins)
    tbl.applyDelta(kv(10L -> "TEN"), Seq(10L).toDF("k"))
    assert(tbl.read().filter(col("k") === 10L).select("v").head.getString(0) == "TEN")
    // empty halves degrade to plain delete / plain upsert semantics
    tbl.applyDelta(kv(), Seq(11L).toDF("k"))
    assert(tbl.read().filter(col("k") === 11L).isEmpty)
    tbl.applyDelta(kv(500L -> "z"), Seq.empty[Long].toDF("k"))
    assert(tbl.read().filter(col("k") === 500L).count() == 1)
    // CAS + key-unique guards, like merge
    intercept[ConcurrentModificationException](
      tbl.applyDelta(kv(5L -> "x"), Seq.empty[Long].toDF("k"), expectedVersion = Some(v0)))
    intercept[IllegalArgumentException](
      tbl.applyDelta(kv(5L -> "x", 5L -> "y"), Seq.empty[Long].toDF("k")))
  }

  test("SnapshotSync: a mirror converges to the source by feed application alone") {
    import graft.incremental.SnapshotSync
    val s = spark
    import s.implicits._
    val src = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    val mir = new SnapshotTable(spark, freshDir(), "k")
    src.create((1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"))
    // cold sync copies once
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    // update + insert, then sync applies the feed (no recopy)
    src.merge(kv(5L -> "FIVE", 201L -> "added"))
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    // deletes propagate — and a mixed delete+update+insert feed lands
    // as EXACTLY ONE mirror commit (no half-applied intermediate)
    src.delete(Seq(7L, 8L).toDF("k"))
    src.merge(kv(9L -> "NINE", 203L -> "ins"))
    val histBefore = mir.history.size
    SnapshotSync.sync(src, mir)
    assert(mir.history.size == histBefore + 1,
      "a sync must apply its whole feed as one atomic commit")
    assertSameRows(mir.read(), src.read())
    assert(mir.read().filter(col("k").isin(7L, 8L)).isEmpty)
    // SKIPPED commits: several source versions between syncs fold into
    // one feed application (intermediate states never read)
    src.merge(kv(10L -> "ten-a"))
    src.merge(kv(10L -> "ten-b", 202L -> "x"))
    src.delete(Seq(202L).toDF("k")) // inserted then deleted between syncs
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    assert(mir.read().filter(col("k") === 10L).select("v").head.getString(0) == "ten-b")
    // re-sync at cursor is a no-op: no new mirror commit
    val v = mir.currentVersion
    SnapshotSync.sync(src, mir)
    assert(mir.currentVersion == v, "no-op sync must not commit")
    // add-column evolution flows through the feed
    src.merge(Seq((1L, "A", Some("en"))).toDF("k", "v", "lang"))
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    // retention fence: the source retiring past the cursor (the forget
    // two-step) forces a full refresh, after which following resumes
    src.delete(Seq(3L).toDF("k"))
    src.retire(keepLast = 1)
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    assert(mir.history.last._3 == "overwrite", "retired cursor must force a full refresh")
    src.merge(Seq((4L, "resumed", Option.empty[String])).toDF("k", "v", "lang"))
    SnapshotSync.sync(src, mir)
    assertSameRows(mir.read(), src.read())
    assert(mir.history.last._3 == "delta", "feed-following must resume after the refresh")
    // a mirror not created by sync has no cursor — loud, not silent
    val foreign = new SnapshotTable(spark, freshDir(), "k")
    foreign.create(kv(1L -> "z"))
    intercept[IllegalStateException](SnapshotSync.sync(src, foreign))
  }

  test("secondary column stats: readWhere prunes files on a non-key column; stat-less files stay conservative") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(10),
      statsColumns = Seq("score"))
    // score = 2k: correlated with the key, so key-clustered files carry
    // disjoint score ranges — the shape where skipping is sharp
    tbl.create((1L to 400L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "score"))
    val allFiles = tbl.read().inputFiles.length
    assert(allFiles >= 4)
    val hit = tbl.readWhere("score", Some(100L), Some(140L)) // keys 50..70
    assertSameRows(hit, (50L to 70L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "score"))
    assert(hit.inputFiles.length <= 2,
      s"stats read opened ${hit.inputFiles.length} of $allFiles files")
    // statsColumns is a WRITE-side setting: any handle prunes on the
    // stats a manifest carries. A NON-tracking handle's merge writes
    // fresh files WITHOUT score stats — those stay conservatively
    // unpruned (always read), carried files keep their stats, and the
    // result is exact either way
    val plain = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(10))
    plain.merge(Seq((50L, "X", 100L)).toDF("k", "v", "score"))
    val hit2 = tbl.readWhere("score", Some(100L), Some(140L))
    assert(hit2.count() == 21)
    assert(hit2.filter(col("k") === 50L).select("v").head.getString(0) == "X")
    assert(hit2.inputFiles.length < allFiles + 1,
      "conservative keep must not defeat pruning on carried stat-ful files")
    // a TRACKING handle's merge restores stats on the files it rewrites
    tbl.merge(Seq((60L, "Y", 120L)).toDF("k", "v", "score"))
    val hit3 = tbl.readWhere("score", Some(100L), Some(140L))
    assert(hit3.count() == 21 &&
      hit3.filter(col("k") === 60L).select("v").head.getString(0) == "Y")
    // key-column delegation and unknown columns
    assertSameRows(tbl.readWhere("k", Some(1L), Some(3L)), tbl.readRange(Some(1L), Some(3L)))
    intercept[IllegalArgumentException](tbl.readWhere("nope", Some(1L), None))
    // unbounded side + open read stay exact
    assert(tbl.readWhere("score", None, Some(10L)).count() == 5)
  }

  test("scan(): Catalyst-pushed predicates prune manifest files automatically, key and stats columns alike") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10),
      statsColumns = Seq("score"))
    tbl.create((1L to 400L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "score"))
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles >= 4)
    // no predicate: every file listed
    val q0 = tbl.scan()
    assert(q0.count() == 400 && tbl.lastListedFiles == nFiles)
    // a KEY predicate in ordinary query syntax — no readRange call
    val q1 = tbl.scan().filter(col("k") >= 390L)
    assert(q1.count() == 11)
    assert(tbl.lastListedFiles <= 2, s"key pushdown kept ${tbl.lastListedFiles} of $nFiles")
    // a SECONDARY-column predicate — no readWhere call
    val q2 = tbl.scan().filter(col("score") >= 100L && col("score") <= 140L)
    assertSameRows(q2, (50L to 70L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "score"))
    assert(tbl.lastListedFiles <= 2, s"stats pushdown kept ${tbl.lastListedFiles} of $nFiles")
    // IN-lists prune as scattered points (two extremes -> two files)
    val q3 = tbl.scan().filter(col("k").isin(5L, 395L))
    assert(q3.count() == 2)
    assert(tbl.lastListedFiles <= 2, s"IN pushdown kept ${tbl.lastListedFiles}")
    // a predicate on an untracked column proves nothing: conservative
    // full listing, still-exact result (Spark evaluates all filters)
    val q4 = tbl.scan().filter(col("v") === "v7")
    assert(q4.count() == 1 && tbl.lastListedFiles == nFiles)
    // equivalence with the plain read under arbitrary predicates
    assertSameRows(tbl.scan().filter(col("score") < 50L || col("k") === 399L),
      tbl.read().filter(col("score") < 50L || col("k") === 399L))
  }

  test("countRows/countWhere: manifest-served counts, only boundary files scanned, nulls exact") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10),
      statsColumns = Seq("score"))
    // nulls concentrated at both ends of the key domain: the low and
    // high files are ALL-null in score, interior files null-free —
    // contained-file arithmetic must subtract them without a scan
    def sc(i: Long): Option[Long] = if (i <= 40 || i > 360) None else Some(i * 2)
    val df = (1L to 400L).map(i => (i, s"v$i", sc(i))).toDF("k", "v", "score")
    tbl.create(df)
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles >= 4)
    // COUNT(*): zero files opened, by construction (no scan job exists)
    assert(tbl.countRows() == 400L)
    // key-range count covering several whole interior files: only the
    // two boundary files open
    assert(tbl.countWhere("k", Some(100L), Some(300L)) == 201L)
    assert(tbl.lastCountScanned <= 2,
      s"key-range count scanned ${tbl.lastCountScanned} of $nFiles files")
    // stats-column range count: score ∈ [200, 600] ⇔ k ∈ [100, 300]
    // (score = 2k on non-null rows); contained files served as
    // rows − nulls, disjoint (incl. the all-null end files) as 0
    assert(tbl.countWhere("score", Some(200L), Some(600L)) == 201L)
    assert(tbl.lastCountScanned <= 2,
      s"stat-range count scanned ${tbl.lastCountScanned} of $nFiles files")
    // unbounded = COUNT(column): non-null rows only, zero files opened
    assert(tbl.countWhere("score", None, None) == 320L)
    assert(tbl.lastCountScanned == 0,
      s"COUNT(column) scanned ${tbl.lastCountScanned} files — nulls are in the manifest")
    // an untracked column falls back to a full scan — exact, not fast
    assert(tbl.countWhere("v", Some("v100"), Some("v200")) ==
      tbl.read().filter(col("v") >= "v100" && col("v") <= "v200").count())
    assert(tbl.lastCountScanned == nFiles)
    // equivalence sweep against the plain read
    for ((lo, hi) <- Seq((Some(1L), Some(80L)), (None, Some(500L)), (Some(700L), None)))
      assert(tbl.countWhere("score", lo, hi) ==
        tbl.read().filter(
          (lo.map(l => col("score") >= l).toSeq ++ hi.map(h => col("score") <= h))
            .reduceOption(_ && _).getOrElse(col("score").isNotNull)).count())
  }

  test("route agreement: scan(), the columnar batch prune and readRange/readWhere keep the same files and rows") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.{Expression, And => CAnd}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(8),
      statsColumns = Seq("score", "note", "src", "ts"))
    // key-clustered; score tracks the key, note is null on the low keys,
    // src is a key-correlated string, ts a key-correlated timestamp whose
    // values sit 500 µs past a millisecond (the stats floor to the ms)
    val t0 = 1640995200000000L // 2022-01-01T00:00:00Z in micros
    tbl.create((1L to 400L).map(i =>
        (i, i * 2, if (i <= 80) None else Some(i * 3), f"s${i / 40}%02d"))
      .toDF("k", "score", "note", "src")
      .withColumn("ts", timestamp_micros(lit(t0) + col("k") * 1000000L + 500L)))
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles >= 6)
    // one microsecond past row 300's timestamp: same millisecond as its
    // file's recorded max, so that file must be kept, and row 300 fails
    val tsBound = new java.sql.Timestamp((t0 + 300L * 1000000L) / 1000L)
    tsBound.setNanos(tsBound.getNanos + 501000)
    val twenty = (101L to 120L).map(lit)
    // the source filters Spark pushes for a predicate: the optimized
    // plan's conjuncts (a >10-value IN is an InSet by then), translated
    def pushed(p: Column): Array[org.apache.spark.sql.sources.Filter] = {
      def conj(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => conj(l) ++ conj(r)
        case o => Seq(o)
      }
      tbl.read().filter(p).queryExecution.optimizedPlan
        .collect { case f: LFilter => conj(f.condition) }.flatten
        .flatMap(org.apache.spark.sql.graft.GraftSqlShim.translateFilter).toArray
    }
    val cases: Seq[(String, Column, Option[DataFrame])] = Seq(
      ("key range", col("k") >= 100L && col("k") <= 150L,
        Some(tbl.readRange(Some(100L), Some(150L)))),
      ("stats range", col("score") >= 400L && col("score") <= 500L,
        Some(tbl.readWhere("score", Some(400L), Some(500L)))),
      ("isNull", col("note").isNull, None),
      ("isNotNull", col("note").isNotNull, None),
      ("<=>", col("note") <=> 600L, Some(tbl.readWhere("note", Some(600L), Some(600L)))),
      ("2-key IN", col("k").isin(5L, 395L), None),
      ("20-key IN", col("k").isin(twenty: _*), None),
      ("startsWith", col("src").startsWith("s09"), None),
      ("sub-ms timestamp", col("ts") >= lit(tsBound), Some(tbl.readWhere("ts", Some(tsBound), None))))
    // the files the catalog's columnar scan plans into its input
    // partitions for `static` pushed filters, after a `runtime` re-prune
    def columnarFiles(static: Array[org.apache.spark.sql.sources.Filter],
        runtime: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
          Array.empty): Seq[String] = {
      val sb = new graft.incremental.GraftScanBuilder(tbl, None, tbl.schema)
      sb.pushFilters(static)
      val scan = sb.build()
      if (runtime.nonEmpty) scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering].filter(runtime)
      scan.toBatch.planInputPartitions().toSeq.flatMap(
        _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition].files
          .map(_.filePath.toPath.toString)).distinct
    }
    // the full table, read by path: the expected rows come from no
    // route under test
    val all = spark.read.schema(tbl.schema).parquet(tbl.read().inputFiles: _*)
    cases.foreach { case (name, p, reader) =>
      val expected = all.filter(p)
      assert(expected.count() > 0, s"$name: the predicate should match rows")
      val v1 = tbl.scan().filter(p)
      val scanned = collectSorted(v1); val listed = tbl.lastListedFiles
      assert(scanned == collectSorted(expected), s"$name: scan() rows differ")
      val read = tbl.read().filter(p)
      val readRows = collectSorted(read)
      assert(tbl.lastListedFiles == listed,
        s"$name: read() listed ${tbl.lastListedFiles}, scan() $listed")
      assert(readRows == scanned, s"$name: read() rows differ")
      val planned = columnarFiles(pushed(p))
      assert(planned.size == listed && tbl.lastListedFiles == listed,
        s"$name: columnar planned ${planned.size} (recorded ${tbl.lastListedFiles}), " +
          s"scan() listed $listed")
      assert(listed < nFiles, s"$name: nothing pruned of $nFiles files")
      assertSameRows(spark.read.schema(tbl.schema).parquet(planned: _*).filter(p), expected)
      reader.foreach { df =>
        assert(df.inputFiles.length == listed,
          s"$name: dedicated reader opened ${df.inputFiles.length}, scan() $listed")
        assertSameRows(df, expected)
      }
    }
    // a runtime re-prune — Spark's dynamic filter, an IN on the key
    // through the scan's filter — plans the files scan() lists for it
    val inKeys = Seq(5L, 395L)
    val inRows = collectSorted(tbl.scan().filter(col("k").isin(inKeys: _*)))
    val inListed = tbl.lastListedFiles
    assert(inRows.size == 2 && inListed < nFiles)
    val rtPlanned = columnarFiles(Array.empty, Array(org.apache.spark.sql.graft.GraftSqlShim
      .inPredicate("k", inKeys, org.apache.spark.sql.types.LongType)))
    assert(rtPlanned.size == inListed && tbl.lastListedFiles == inListed,
      s"runtime IN: columnar planned ${rtPlanned.size}, scan() listed $inListed")
    assertSameRows(spark.read.schema(tbl.schema).parquet(rtPlanned: _*)
      .filter(col("k").isin(inKeys: _*)), all.filter(col("k").isin(inKeys: _*)))
  }

  test("scan() null/prefix/null-safe predicates prune from null counts and string bounds") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10),
      statsColumns = Seq("score", "src"))
    // score: all-null across the low-key files (the first ~fifth of the
    // key domain), non-null elsewhere; src: key-correlated strings so
    // key clustering gives tight per-file byte bounds
    def sc(i: Long): Option[Long] = if (i <= 80) None else Some(i * 2)
    val df = (1L to 400L).map(i => (i, f"s${i / 40}%02d", sc(i))).toDF("k", "src", "score")
    tbl.create(df)
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles >= 4)
    // IsNull keeps only files that HAVE nulls (the low end)
    val q1 = tbl.scan().filter(col("score").isNull)
    assert(q1.count() == 80)
    assert(tbl.lastListedFiles <= 4, s"isNull kept ${tbl.lastListedFiles} of $nFiles")
    // IsNotNull prunes the ALL-null files
    val q2 = tbl.scan().filter(col("score").isNotNull)
    assert(q2.count() == 320)
    assert(tbl.lastListedFiles <= nFiles - 1, s"isNotNull kept ${tbl.lastListedFiles}")
    // null-safe equality prunes like EqualTo on the value side
    val q3 = tbl.scan().filter(col("score") <=> 400L)
    assert(q3.count() == 1)
    assert(tbl.lastListedFiles <= 2, s"eqNullSafe kept ${tbl.lastListedFiles}")
    // a string PREFIX predicate prunes off the encoded byte bounds
    val q4 = tbl.scan().filter(col("src").startsWith("s09"))
    assert(q4.count() == 40)
    assert(tbl.lastListedFiles <= 3, s"startsWith kept ${tbl.lastListedFiles} of $nFiles")
    // equivalence with the plain read on every shape above
    for (p <- Seq(col("score").isNull, col("score").isNotNull,
        col("score") <=> 400L, col("src").startsWith("s09")))
      assertSameRows(tbl.scan().filter(p), tbl.read().filter(p))
  }

  test("keyBloomBits: in-range-but-absent point batches touch nothing; inserts still land") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(10),
      keyBloomBits = 4096)
    // EVEN keys only: any odd key falls INSIDE some file's [min,max]
    // but is absent — the shape range pruning alone can never skip
    tbl.create((2L to 800L by 2).map(i => (i, s"v$i")).toDF("k", "v"))
    val v0 = tbl.currentVersion.get
    val files0 = tbl.filesAt(v0).toSet
    assert(files0.size >= 8)
    val odd = Seq(101L, 333L, 555L, 777L).toDF("k")
    // delete of absent keys: the bloom proves absence file by file — a
    // version no-op instead of rewriting the four holding files
    assert(tbl.delete(odd) == v0, "absent-key delete must not commit a rewrite")
    // point reads of absent keys open NOTHING
    assert(tbl.readKeys(odd).isEmpty && tbl.readKeys(odd).inputFiles.isEmpty)
    // a bloom-less reader handle still prunes off the manifest's blooms
    val plain = new SnapshotTable(spark, dir, "k")
    assert(plain.readKeys(odd).inputFiles.isEmpty)
    // merge with one present key (an update) and one absent (an
    // insert): only the present key's file rewrites; the insert lands
    val v2 = tbl.merge(Seq((400L, "X"), (401L, "Y")).toDF("k", "v"))
    val carried = files0.intersect(tbl.filesAt(v2).toSet).size
    assert(carried >= files0.size - 1,
      s"bloom merge rewrote ${files0.size - carried} files; wanted <=1")
    assert(tbl.read().count() == 401)
    assert(tbl.read().filter(col("k") === 400L).select("v").head.getString(0) == "X")
    assert(tbl.read().filter(col("k") === 401L).select("v").head.getString(0) == "Y")
    // present-key reads are exact through the bloom path
    assertSameRows(tbl.readKeys(Seq(2L, 400L, 401L).toDF("k")),
      Seq((2L, "v2"), (400L, "X"), (401L, "Y")).toDF("k", "v"))
    // a TYPE-COERCED batch (Int keys against the Long-keyed table) must
    // hash as the TABLE's type: the present key is found, the absent
    // key still proves absent — pruning off the batch frame's own type
    // would xxhash64 different bytes and wrongly skip the holding file
    assertSameRows(tbl.readKeys(Seq(400).toDF("k")).select("k", "v"),
      Seq((400L, "X")).toDF("k", "v"))
    assert(tbl.delete(Seq(103, 105).toDF("k")) == tbl.currentVersion.get,
      "Int-typed absent keys must still no-op")
    assert(tbl.read().count() == 401)
  }

  test("collectStats retrofits NULL counts onto pre-null-tracking stats") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    def sc(i: Long): Option[Long] = if (i % 5 == 0) None else Some(i * 2)
    val df = (1L to 400L).map(i => (i, s"v$i", sc(i))).toDF("k", "v", "score")
    new SnapshotTable(spark, dir, "k", clusterPartitions = Some(10),
      statsColumns = Seq("score")).create(df)
    // simulate a PRE-null-tracking writer: strip the trailing
    // null-count field from every f/s line of the committed manifest
    val mf = new java.io.File(s"$dir/manifests").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).last
    val doctored = Files.readString(mf.toPath).linesIterator.map { l =>
      if (l.startsWith("f\t") || l.startsWith("s\t"))
        l.split("\t", -1).take(6).mkString("\t")
      else l
    }.mkString("\n")
    Files.writeString(mf.toPath, doctored)
    // the local ChecksumFileSystem keeps a .crc sidecar per file; the
    // doctored bytes no longer match it — drop it like an old writer
    // (which never wrote one for these bytes) would have left things
    new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
    val tbl = new SnapshotTable(spark, dir, "k", statsColumns = Seq("score"))
    val expected = df.filter(col("score").isNotNull).count()
    // nulls unknown everywhere: COUNT(column) must fall back to scans
    assert(tbl.countWhere("score", None, None) == expected)
    val nFiles = tbl.read().inputFiles.length
    assert(tbl.lastCountScanned == nFiles, "null-less stats cannot serve counts")
    // the retrofit must RE-collect those files (bounds exist, nulls do
    // not) and supersede the null-less stats — zero file churn, and the
    // manifest-served count works from then on
    val v1 = tbl.collectStats(Seq("score"))
    assert(tbl.filesAt(v1).toSet == tbl.filesAt(v1 - 1).toSet, "stats commit rewrote files")
    assert(tbl.countWhere("score", None, None) == expected)
    assert(tbl.lastCountScanned == 0,
      s"post-retrofit count still scanned ${tbl.lastCountScanned} files")
  }

  test("boundsOf opens only the extreme-candidate files; all-null files hold no extreme") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10),
      statsColumns = Seq("score"))
    // the lowest-key file is ALL-null in score: it must not be scanned
    // for the minimum even though it has no orderable score bounds
    def sc(i: Long): Option[Long] = if (i <= 40) None else Some(i * 2)
    tbl.create((1L to 400L).map(i => (i, s"v$i", sc(i))).toDF("k", "v", "score"))
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles >= 4)
    // key bounds: candidates are the two end files
    val kb = tbl.boundsOf("k").head
    assert((kb.getLong(0), kb.getLong(1)) == (1L, 400L))
    assert(tbl.lastBoundsScanned <= 2,
      s"key bounds scanned ${tbl.lastBoundsScanned} of $nFiles")
    // stats-column bounds: min comes from the first NON-null file
    val sb = tbl.boundsOf("score").head
    assert((sb.getLong(0), sb.getLong(1)) == (82L, 800L))
    assert(tbl.lastBoundsScanned <= 3,
      s"score bounds scanned ${tbl.lastBoundsScanned} of $nFiles")
    // an untracked column: every file is a conservative candidate, the
    // answer is still exact
    val vb = tbl.boundsOf("v").head
    assert((vb.getString(0), vb.getString(1)) == ("v1", "v99"))
    assert(tbl.lastBoundsScanned == nFiles)
    intercept[IllegalArgumentException](tbl.boundsOf("nope"))
  }

  test("optimize(zorderBy): multi-dimension skipping, content identical, change feed silent") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(16),
      statsColumns = Seq("b"))
    // b deliberately UNCORRELATED with k: key clustering gives a
    // b-predicate no locality at all — every file spans ~the full b range
    val df = (1L to 4000L).map(i => (i, (i * 2654435761L) % 4096L, s"v$i"))
      .toDF("k", "b", "v")
    tbl.create(df)
    val v0 = tbl.currentVersion.get
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles >= 8)
    val before = tbl.readWhere("b", Some(0L), Some(255L)).inputFiles.length
    assert(before > nFiles / 2, s"pre-zorder a b-range should open ~everything, got $before")
    val v1 = tbl.optimize(zorderBy = Seq("k", "b"))
    assert(v1 > v0 && tbl.history.last._3 == "optimize")
    assertSameRows(tbl.read(), df) // a layout change, not a data change
    val nAfter = tbl.read().inputFiles.length
    // BOTH dimensions now skip: each file is tight in k AND b at z-grain
    val bAfter = tbl.readWhere("b", Some(0L), Some(255L)).inputFiles.length
    val kAfter = tbl.readRange(Some(1L), Some(250L)).inputFiles.length
    assert(bAfter <= nAfter / 2, s"post-zorder b-range kept $bAfter of $nAfter")
    assert(kAfter <= nAfter / 2, s"post-zorder k-range kept $kAfter of $nAfter")
    // content-identical optimize: the rewrite-op-aware feed sees nothing
    assert(tbl.changesBetween(v0, v1).isEmpty)
    // guard rails: unknown and opaque columns are rejected loudly
    intercept[IllegalArgumentException](tbl.optimize(zorderBy = Seq("nope")))
  }

  test("versionAsOf/readAsOf: timestamp time travel off manifest mtimes") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a"))
    tbl.merge(kv(2L -> "b"))
    tbl.merge(kv(3L -> "c"))
    // pin the commit instants (fs mtime is the commit clock)
    val mdir = new java.io.File(s"$dir/manifests")
    val manifests = mdir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
    manifests.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.setLastModifiedTime(f.toPath,
        java.nio.file.attribute.FileTime.fromMillis(1000000L * (i + 1)))
    }
    assert(tbl.versionAsOf(500000L).isEmpty)       // before the table existed
    assert(tbl.versionAsOf(1500000L).contains(0L)) // between v0 and v1
    assert(tbl.versionAsOf(9999999L).contains(2L)) // after everything
    assert(tbl.readAsOf(2500000L).count() == 2)    // v1: keys 1, 2
    intercept[IllegalStateException](tbl.readAsOf(1L))
  }

  test("collectStats backfills skipping stats onto existing files without rewriting any") {
    val s = spark
    import s.implicits._
    // an UNTRACKED table predating statsColumns: no score stats anywhere
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10))
    tbl.create((1L to 400L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "score"))
    val files = tbl.read().inputFiles.toSet
    assert(tbl.readWhere("score", Some(100L), Some(140L)).inputFiles.length == files.size,
      "an untracked table must read conservatively (every file)")
    // backfill: one stats scan, a rewrite-free commit, SAME data files
    val v = tbl.collectStats(Seq("score"))
    assert(tbl.history.last._3 == "stats")
    assert(tbl.read().inputFiles.toSet == files, "collectStats must not rewrite data")
    val hit = tbl.readWhere("score", Some(100L), Some(140L))
    assertSameRows(hit, (50L to 70L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "score"))
    assert(hit.inputFiles.length <= 2,
      s"backfilled stats must prune: opened ${hit.inputFiles.length} of ${files.size}")
    // idempotent: full coverage -> no new commit
    assert(tbl.collectStats(Seq("score")) == v)
    // zero file churn: the change feed across the stats commit is empty,
    // so a mirror sync over it advances tag-only (no special-casing)
    assert(tbl.changesBetween(v - 1, v).isEmpty)
    // key/opaque columns are rejected as no-ops, loudly
    intercept[IllegalArgumentException](tbl.collectStats(Seq("k")))
  }

  test("StreamingMirrorRun main: the online mirror cadence converges to the batch sync end-to-end") {
    val dir = freshDir()
    // the main stages create → stream-drain → merge+optimize+delete →
    // stream-drain and sys.errors unless the streamed mirror equals
    // both the source and an independent batch sync, with a
    // cold-copy + one-delta commit shape (no optimize mass crossed)
    StreamingMirrorRun.main(Array("/root/testdata/sf0.001", dir))
    val src = new SnapshotTable(spark, s"$dir/source", "doc_id")
    val mir = new SnapshotTable(spark, s"$dir/mirror", "doc_id")
    assertSameRows(mir.read(), src.read())
    assert(mir.history.map(_._3) == Seq("create", "delta"))
  }

  test("readKeys opens only the files that can hold a requested key — scattered ids stay sparse") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(10))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val allFiles = tbl.read().inputFiles.toSet
    assert(allFiles.size >= 4)
    // two ids at opposite ends of the domain: a [min,max] range read
    // would open every file in between; the key-set prune opens 2
    val hit = tbl.readKeys(Seq(1L, 400L).toDF("k"))
    assert(collectSorted(hit) == collectSorted(kv(1L -> "v1", 400L -> "v400")))
    assert(hit.inputFiles.length <= 2,
      s"scattered-key read opened ${hit.inputFiles.length} files")
    // requesting absent keys returns empty without error
    assert(tbl.readKeys(Seq(9999L).toDF("k")).isEmpty)
    // duplicate request keys do not duplicate rows (semi-join)
    assert(tbl.readKeys(Seq(7L, 7L).toDF("k")).count() == 1)
  }

  /** Drives merge, delete, applyDelta and readKeys on a table keyed by
    * `key(i)` (an index → key value map) and checks each step against an
    * in-memory model of index → value, once per key route: the collected
    * profile and the over-cap route (`pruneSetCap = 1`). `show` renders
    * a key value comparably (byte arrays and NaN have no useful ==). */
  private def modelTrial[K: Encoder](label: String, key: Int => K,
      show: Any => String): Unit = {
    val s = spark
    import s.implicits._
    implicit val kvEnc: Encoder[(K, String)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.STRING)
    for (cap <- Seq(100000L, 1L)) {
      val shape = s"$label (cap=$cap)"
      val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(3))
      tbl.pruneSetCap = cap
      var model = (0 to 11).map(i => i -> s"v$i").toMap
      def rows(is: Seq[(Int, String)]) = is.map { case (i, v) => (key(i), v) }.toDF("k", "v")
      def keys(is: Int*) = is.map(key).toDF("k")
      def render(df: DataFrame, m: Map[Int, String]) = (
        df.collect().map(r => (show(r.getAs[Any]("k")), r.getAs[String]("v"))).sorted.toSeq,
        m.toSeq.map { case (i, v) => (show(key(i)), v) }.sorted)
      def check(step: String): Unit = {
        val (got, want) = render(tbl.read(), model)
        assert(got == want, s"$shape: $step diverged")
      }
      tbl.create(rows(model.toSeq))
      check("create")
      tbl.merge(rows(Seq(0 -> "M0", 3 -> "M3", 20 -> "M20")))
      model ++= Map(0 -> "M0", 3 -> "M3", 20 -> "M20")
      check("merge")
      intercept[IllegalArgumentException](tbl.merge(rows(Seq(4 -> "a", 4 -> "b"))))
      tbl.delete(keys(1, 5, 99))
      model --= Seq(1, 5)
      check("delete")
      tbl.applyDelta(rows(Seq(6 -> "D6", 21 -> "D21", 8 -> "D8")), keys(7, 8, 0))
      model = model - 7 - 0 ++ Map(6 -> "D6", 21 -> "D21", 8 -> "D8")
      check("applyDelta")
      val (got, want) = render(tbl.readKeys(keys(2, 6, 21, 99, 1)),
        model.filter(e => Set(2, 6, 21).contains(e._1)))
      assert(got == want, s"$shape: readKeys diverged")
    }
  }

  test("a binary-keyed (opaque) table: keyed writes and readKeys equal an in-memory model") {
    modelTrial[Array[Byte]]("binary", i => Array(i.toByte, (i * 7).toByte),
      v => v.asInstanceOf[Array[Byte]].mkString(","))(Encoders.BINARY)
  }

  test("a double-keyed table holding NaN: keyed writes and readKeys equal an in-memory model") {
    // index 0 is the NaN key: merge replaces its row, applyDelta deletes
    // it, and every step keeps the other keys exact
    modelTrial[Double]("double+NaN", i => if (i == 0) Double.NaN else i * 1.5,
      v => v.toString)(Encoders.scalaDouble)
  }

  test("an Int-typed delete carries forward the same files as the same Long-typed delete") {
    val s = spark
    import s.implicits._
    for (cap <- Seq(100000L, 2L)) {
      val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(8))
      tbl.pruneSetCap = cap
      val v0 = tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
      val doomed = Seq(5, 123, 377)
      val v1 = tbl.delete(doomed.map(_.toLong).toDF("k"))
      val longCarried = tbl.filesAt(v0).toSet.intersect(tbl.filesAt(v1).toSet)
      val base = tbl.restore(v0) // same entries, so the same file paths
      val v3 = tbl.delete(doomed.toDF("k"))
      val intCarried = tbl.filesAt(base).toSet.intersect(tbl.filesAt(v3).toSet)
      assert(longCarried.size >= tbl.filesAt(v0).size - 3, s"cap=$cap: delete rewrote too much")
      assert(intCarried == longCarried, s"cap=$cap: Int-typed delete pruned differently")
      assertSameRows(tbl.read(), tbl.readVersion(v1))
    }
  }

  test("optimize compacts small files content-identically; big files carry by reference; tag survives") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    tbl.create(kv(1L -> "a"), tag = "wm-1")
    (2L to 9L).foreach(i => tbl.merge(kv(i -> s"v$i"), tag = s"wm-$i"))
    val before = collectSorted(tbl.read())
    val filesBefore = tbl.history.last._4
    assert(filesBefore > 2, s"need small-file accretion to observe, got $filesBefore")
    val vOpt = tbl.optimize() // every test file is tiny -> all rewritten
    assert(tbl.history.last._3 == "optimize")
    assert(tbl.history.last._4 < filesBefore, "optimize must reduce the file count")
    assert(collectSorted(tbl.read()) == before, "optimize must not change content")
    // the rider tag (a watermark, a batch id) survives the maintenance
    // commit — dropping it would reset the incremental pipeline
    assert(tbl.currentTag.contains("wm-9"))
    // nothing small -> no-op, no version bump
    assert(tbl.optimize(smallBytes = 1L) == vOpt)
    // a big file carries by reference: pick a threshold between the
    // compacted file's size and the small single-row merge files'
    val compactedSize = tbl.read().inputFiles
      .map(u => new java.io.File(new java.net.URI(u)).length()).max
    tbl.merge(kv(20L -> "x"))
    tbl.merge(kv(21L -> "y"))
    val vBefore = tbl.currentVersion.get
    tbl.optimize(smallBytes = compactedSize) // the compacted file is NOT small
    val carried = tbl.readVersion(vBefore).inputFiles.toSet
      .intersect(tbl.read().inputFiles.toSet)
    assert(carried.nonEmpty, "files at/above the threshold must carry by reference")
    assertSameRows(tbl.read(), kv(
      ((1L to 9L).map(i => i -> (if (i == 1) "a" else s"v$i")) ++
        Seq(20L -> "x", 21L -> "y")): _*))
    // time travel across maintenance commits stays intact
    assert(tbl.readVersion(0).count() == 1)
  }

  test("commit tags ride atomically with their data; retire bounds history for vacuum") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    assert(tbl.currentTag.isEmpty)
    tbl.create(kv(1L -> "a"), tag = "0")
    tbl.create(kv(1L -> "b"), tag = "1")
    tbl.create(kv(1L -> "c"), tag = "2")
    tbl.create(kv(1L -> "d"), tag = "3")
    // the tag always describes exactly the data the read returns — one
    // manifest carries both (the streaming sink's exactly-once hinge)
    assert(tbl.currentTag.contains("3"))
    assert(tbl.read().select("v").head.getString(0) == "d")
    // time travel BY TAG: "the table as published for batch 1"
    val v1 = tbl.versionForTag("1")
    assert(v1.isDefined)
    assert(tbl.readVersion(v1.get).select("v").head.getString(0) == "b")
    assert(tbl.versionForTag("no-such-tag").isEmpty)
    // retire to the newest 2: older versions stop resolving, their
    // files become vacuum-reclaimable, numbering continues
    tbl.retire(keepLast = 2)
    assert(tbl.history.map(_._1) == Seq(2L, 3L))
    intercept[IllegalStateException](tbl.readVersion(0))
    val reclaimed = tbl.vacuum(graceMs = 0)
    assert(reclaimed.nonEmpty, "retired versions' files were not reclaimed")
    assertSameRows(tbl.read(), kv(1L -> "d")) // kept window intact
    assert(tbl.create(kv(1L -> "e"), tag = "4") == 4L) // claim counter unaffected
  }

  test("restore brings a historical version back as a new auditable commit, tag included") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    tbl.create(kv(1L -> "good"), tag = "wm-good")
    tbl.merge(kv(1L -> "bad"), tag = "wm-bad") // the botched publish
    val vGood = tbl.versionForTag("wm-good").get
    val v = tbl.restore(vGood)
    // current contents and RIDER FACT both rolled back together
    assertSameRows(tbl.read(), kv(1L -> "good"))
    assert(tbl.currentTag.contains("wm-good"))
    // by reference, not by copy: the restored commit reuses v0's files
    assert(tbl.readVersion(v).inputFiles.toSet == tbl.readVersion(vGood).inputFiles.toSet)
    // audit trail intact: the bad version stays readable until retired
    assert(tbl.history.map(_._3) == Seq("create", "merge", "restore"))
    assert(tbl.readVersion(1).count() == 1)
    // CAS guard like every other mutation
    intercept[ConcurrentModificationException](
      tbl.restore(vGood, expectedVersion = Some(0L)))
  }

  test("property: merge ≡ Upsert.merge and delete ≡ anti-join under random layouts and sparse batches") {
    // The prune is an OPTIMIZATION with a falsifiable contract: for ANY
    // file layout and ANY batch shape (contiguous, scattered, extremes,
    // duplicates-of-none), the merged/deleted table must equal the pure
    // query formulation — a prune that ever skips a truly-overlapping
    // file breaks this equality. Raw ScalaCheck with fixed seeds, like
    // IncrementalPropertySpec (the scalatest bridge isn't cached).
    // The handle shape cycles through every combination of deletion
    // vectors (cap 3: small delete sides vector, bigger ones rewrite),
    // a 64-bit key bloom, and Int-typed delete keys against the Long
    // key; each trial then checks an applyDelta step against
    // anti-join-then-Upsert.merge, and readKeys of a random key set,
    // Long- and Int-typed, against the model's semi-join.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val keysGen = (sizes: Seq[Int]) =>
      Gen.oneOf(sizes).flatMap(Gen.listOfN(_, Gen.chooseNum(1, 400)))
        .map(_.distinct.map(_.toLong))
    val layoutGen = for {
      n <- Gen.chooseNum(30, 300) // table keys 1..n
      files <- Gen.chooseNum(2, 12)
      bkeys <- Gen.nonEmptyListOf(Gen.chooseNum(1, 400)) // batch may miss the table
      dkeys <- keysGen(Seq(0, 1, 2, 3, 8, 40))
      ukeys <- keysGen(Seq(0, 1, 3, 20))
      xkeys <- keysGen(Seq(0, 1, 2, 3, 30))
      cap <- Gen.oneOf(100000, 3) // collected profile and forced over-cap route
      rkeys <- keysGen(Seq(0, 1, 3, 30))
    } yield (n, files, bkeys.distinct.map(_.toLong), dkeys, ukeys, xkeys, cap, rkeys)
    for (trial <- 1 to 12) {
      val (n, files, bkeys, dkeys, ukeys, xkeys, cap, rkeys) =
        layoutGen.pureApply(Gen.Parameters.default, Seed(42L + trial))
      val dvMax = if (trial % 2 == 0) 3L else 0L
      val bloom = if ((trial / 2) % 2 == 1) 64 else 0
      val intKeys = (trial / 4) % 2 == 1
      val shape = s"trial $trial (cap=$cap dv=$dvMax bloom=$bloom int=$intKeys)"
      val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(files),
        keyBloomBits = bloom, deleteVectorMaxRows = dvMax)
      tbl.pruneSetCap = cap
      val keyFrame = (ks: Seq[Long]) =>
        if (intKeys) ks.map(_.toInt).toDF("k") else ks.toDF("k")
      val existing = (1L to n.toLong).map(i => (i, s"v$i")).toDF("k", "v")
      tbl.create(existing)
      val batch = bkeys.map(k => (k, s"B$k")).toDF("k", "v")
      tbl.merge(batch)
      assertSameRows(tbl.read(), Upsert.merge(existing, batch, Seq("k")))
      if (dkeys.nonEmpty) {
        val expect = collectSorted(
          tbl.read().join(dkeys.toDF("k"), Seq("k"), "left_anti"))
        tbl.delete(keyFrame(dkeys))
        assert(collectSorted(tbl.read()) == expect,
          s"$shape: delete diverged (deleted=$dkeys)")
      }
      val ups = ukeys.map(k => (k, s"U$k")).toDF("k", "v")
      val expect = collectSorted(Upsert.merge(
        tbl.read().join(xkeys.toDF("k"), Seq("k"), "left_anti"), ups, Seq("k")))
      tbl.applyDelta(ups, keyFrame(xkeys))
      assert(collectSorted(tbl.read()) == expect,
        s"$shape: applyDelta diverged (upserts=$ukeys deletes=$xkeys)")
      assert(tbl.countRows() == expect.size, s"$shape: manifest row count drifted")
      val lookedUp = expect.filter(r => rkeys.contains(r(0)))
      for (ks <- Seq(rkeys.toDF("k"), rkeys.map(_.toInt).toDF("k")))
        assert(collectSorted(tbl.readKeys(ks)) == lookedUp,
          s"$shape: readKeys diverged (keys=$rkeys as ${ks.schema("k").dataType})")
    }
  }

  test("StoreLock: mutual exclusion, release on success and failure, stale-lock break") {
    import graft.incremental.StoreLock
    val dir = freshDir()
    // exclusion: a second maintainer inside the window fails loudly
    var inner: Option[Throwable] = None
    val out = StoreLock.withLock(spark, dir, "a") {
      inner = Some(intercept[ConcurrentModificationException](
        StoreLock.withLock(spark, dir, "b") { fail("must not enter") }))
      42
    }
    assert(out == 42 && inner.exists(_.getMessage.contains("held")))
    // released on success: reacquire works
    assert(StoreLock.withLock(spark, dir, "c") { 1 } == 1)
    // released on BODY FAILURE too (finally path)
    intercept[IllegalStateException](
      StoreLock.withLock(spark, dir, "d") { throw new IllegalStateException("boom") })
    assert(StoreLock.withLock(spark, dir, "e") { 2 } == 2)
    // a crashed maintainer's stale lock (older than staleMs by the fs
    // clock) is broken instead of wedging maintenance forever
    val lock = java.nio.file.Paths.get(dir, "_maintenance.lock")
    Files.writeString(lock, "crashed\n")
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    assert(StoreLock.withLock(spark, dir, "f") { 3 } == 3)
    assert(!Files.exists(lock))
  }

  test("monotonicReads: a handle never resolves below the version it last returned") {
    val dir = freshDir()
    val writer = new SnapshotTable(spark, dir, "k")
    val v0 = writer.create(kv(1L -> "a"))
    val v1 = writer.merge(kv(1L -> "b", 2L -> "c"))
    val floored = new SnapshotTable(spark, dir, "k", monotonicReads = true)
    val plain = new SnapshotTable(spark, dir, "k")
    assertSameRows(floored.read(), kv(1L -> "b", 2L -> "c")) // floor now at v1
    // stage the retraction race's reader-visible symptom: v1's manifest
    // vanishes after the handle observed it (a racing loser retracting,
    // or history trimmed under the reader)
    val m1 = java.nio.file.Paths.get(dir, "manifests", f"v$v1%019d.json")
    java.nio.file.Files.delete(m1)
    // a plain handle regresses to v0 — snapshot-consistent but v1 → v0
    assert(plain.currentVersion.contains(v0))
    assertSameRows(plain.read(), kv(1L -> "a"))
    // the floored handle serves its cached v1: stale-but-monotonic,
    // never a backwards jump (data files are immutable and still live
    // inside the vacuum grace window)
    assert(floored.currentVersion.contains(v1))
    assertSameRows(floored.read(), kv(1L -> "b", 2L -> "c"))
    // any commit landing at-or-above the floor releases it forward
    val v2 = writer.merge(kv(3L -> "d"))
    assert(v2 >= v1)
    assert(floored.currentVersion.contains(v2))
    assert(floored.read().count() == writer.read().count())
  }

  test("StoreLock double-break race: of two maintainers breaking one stale lock, exactly one wins") {
    import graft.incremental.StoreLock
    val dir = freshDir()
    val lock = java.nio.file.Paths.get(dir, "_maintenance.lock")
    def plantStale(): Unit = {
      Files.writeString(lock, "crashed\n")
      Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    }
    // M1 observes the stale lock; in M1's pre-break window M2 performs
    // a COMPLETE break + re-acquire (the interleaving where the old
    // delete-then-create protocol let M1's delete remove M2's FRESH
    // lock and both proceed). M1's atomic rename now renames M2's fresh
    // lock, detects the fresh mtime, restores it, and yields — exactly
    // one maintainer inside the critical section.
    plantStale()
    StoreLock.onBeforeBreak = () => {
      Files.delete(lock) // M2's break of the same stale lock...
      Files.writeString(lock, "m2\n") // ...and its fresh re-acquire
      StoreLock.onBeforeBreak = () => ()
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        StoreLock.withLock(spark, dir, "m1") { fail("m1 must not enter") })
      assert(e.getMessage.contains("held"))
    } finally StoreLock.onBeforeBreak = () => ()
    // M2's fresh lock survived M1's aborted break, byte-identical...
    assert(Files.readString(lock) == "m2\n", "the winner's lock must survive the loser's break")
    // ...and no tombstone debris is left behind
    val debris = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains(".lock.broken-"))
    assert(debris.isEmpty, s"break left tombstone debris: ${debris.mkString(",")}")
    // after M2 releases, the next maintainer acquires normally
    Files.delete(lock)
    assert(StoreLock.withLock(spark, dir, "m3") { 7 } == 7)
    // a GENUINELY stale lock still breaks atomically and admits the breaker
    plantStale()
    assert(StoreLock.withLock(spark, dir, "m4") { 8 } == 8)
    assert(!Files.exists(lock))
    // the staleMs env knob is honored (system-property seam)
    sys.props("SPARK_GRAFT_LOCK_STALE_MS") = "1"
    try {
      Files.writeString(lock, "slow\n")
      Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000L))
      // 10 s old > 1 ms window: broken and acquired
      assert(StoreLock.withLock(spark, dir, "m5") { 9 } == 9)
    } finally sys.props.remove("SPARK_GRAFT_LOCK_STALE_MS")
  }

  test("StoreLock renewal: a live pass outlasting staleMs stays unbreakable; release spares a stolen lock") {
    import graft.incremental.StoreLock
    val dir = freshDir()
    val lock = java.nio.file.Paths.get(dir, "_maintenance.lock")
    // a pass 2.5x longer than staleMs: the renewal daemon keeps the
    // mtime fresh, so a competitor mid-pass sees HELD (unrenewed, the
    // lock would age stale and be broken under the live maintainer)
    val competitorHeld = StoreLock.withLock(spark, dir, "long-pass",
      staleMs = 800, renewEveryMs = 150) {
      Thread.sleep(2000)
      val e = intercept[ConcurrentModificationException](
        StoreLock.withLock(spark, dir, "competitor", staleMs = 800) {
          fail("competitor must not enter a renewed lock")
        })
      e.getMessage.contains("held")
    }
    assert(competitorHeld, "competitor broke a LIVE renewed lock")
    assert(!Files.exists(lock), "lock must release after the long pass")
    // mid-pass theft (a foreign breaker ignoring the renewal): the
    // victim's release must NOT delete the thief's lock — it releases
    // only a lock that still carries its own token
    StoreLock.withLock(spark, dir, "victim", staleMs = 60000, renewEveryMs = 100) {
      Files.delete(lock)
      Files.writeString(lock, "thief\n")
      Thread.sleep(400) // a renewal tick observes the theft and stands down
    }
    assert(Files.readString(lock) == "thief\n",
      "release deleted a lock it no longer owned")
    Files.delete(lock)
  }

  test("append adds files by reference; the full round-trip preserves schema and rows") {
    val tbl = new SnapshotTable(spark, freshDir(), "k")
    tbl.create(kv(1L -> "a"))
    tbl.append(kv(2L -> "b"))
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
    assert(tbl.read().schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("a resolve on a deep history reads O(1) manifests; the parse cache serves every repeat") {
    val dir = freshDir()
    val writer = new SnapshotTable(spark, dir, "k")
    writer.create(kv(1L -> "a")) // v0
    (1 to 30).foreach(i => writer.merge(kv((i + 1).toLong -> s"v$i"))) // v1..v30
    val reader = new SnapshotTable(spark, dir, "k") // cold cache
    val r0 = reader.manifestReads
    reader.read()
    val firstResolve = reader.manifestReads - r0
    assert(firstResolve <= 2,
      s"a resolve on a 31-version table read $firstResolve manifests — " +
        "latestManifest is walking the whole history again")
    reader.read()
    assert(reader.manifestReads - r0 == firstResolve,
      "the second resolve re-read manifest files instead of hitting the cache")
    // r19 fast path: a QUIESCENT repeated resolve does zero manifest-dir
    // LISTINGS (two stat probes) — the per-statement LIST was the
    // catalog route's residual planning tax
    val l0 = reader.manifestListings
    reader.read(); reader.currentVersion; reader.recordedKey
    // the change feed's per-trigger offer resolves the head the same way
    assert(reader.nextFeedOffer(30L, 1L).contains((30L, 30L)))
    assert(reader.manifestListings - l0 == 0,
      s"quiescent repeated resolves listed ${reader.manifestListings - l0} times")
    // a commit by ANOTHER handle lands at version+1 — the fast path's
    // claim-file probe sees it and the next resolve re-lists
    writer.merge(kv(99L -> "fresh"))
    assert(reader.read().count() == 32, "fast path served a stale snapshot")
    assert(reader.manifestListings - l0 >= 1)
    assert(reader.currentVersion == writer.currentVersion)
    // a whole-chain caller warms the cache once, then stops reading
    val r1 = reader.manifestReads
    reader.history
    val chainReads = reader.manifestReads - r1
    assert(chainReads <= 31)
    reader.history
    assert(reader.manifestReads - r1 == chainReads, "history re-read the committed chain")
    // a change feed over k versions reads ~k manifests, not the history
    val feedReader = new SnapshotTable(spark, dir, "k")
    val r2 = feedReader.manifestReads
    feedReader.changesBetween(5, 10).count()
    assert(feedReader.manifestReads - r2 <= 8,
      s"a 6-version feed read ${feedReader.manifestReads - r2} manifests")
  }

  test("committed-version helpers skip torn claims — the gap-aware caps the change feed offers from") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0
    tbl.merge(kv(2L -> "b")) // v1
    // a crashed writer's permanent gap: claimed, never terminated
    val torn = new org.apache.hadoop.fs.Path(dir, f"manifests/v${2L}%019d.json")
    val fs = torn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(torn, false)
    try out.write("#parent 1\n#op merge".getBytes("UTF-8")) finally out.close()
    tbl.merge(kv(3L -> "c")) // claims past the debris → v3
    assert(tbl.currentVersion.contains(3L))
    assert(tbl.committedVersionAtOrBelow(2L).contains(1L), "cap landed on a torn claim")
    assert(tbl.committedVersionAtOrBelow(0L).contains(0L))
    assert(tbl.oldestCommittedVersion.contains(0L))
    assert(tbl.committedVersionAtOrBelow(-1L).isEmpty)
    // the per-trigger feed offer, same table (committed 0,1,3; gap 2)
    assert(tbl.nextFeedOffer(0L, 10L).contains((3L, 3L)), "unbounded window offers the head")
    assert(tbl.nextFeedOffer(0L, 1L).contains((1L, 3L)), "window capped on the commit log")
    assert(tbl.nextFeedOffer(1L, 1L).contains((3L, 3L)),
      "a gap-swallowed window still advances to the next committed version")
    assert(tbl.nextFeedOffer(3L, 1L).contains((3L, 3L)), "caught up: re-offer the head")
    assert(tbl.nextFeedOffer(99L, 1L).contains((3L, 3L)),
      "cursor ahead of the head: offer must not invent versions (caller won't regress)")
    assert(tbl.nextFeedOffer(0L, Long.MaxValue).contains((3L, 3L)),
      "no overflow on the unbounded default")
  }

  test("manifest byte lengths: scan() and optimize() stat zero files; legacy manifests degrade") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    tbl.create((1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"))
    val nFiles = tbl.read().inputFiles.length
    assert(tbl.scan().count() == 200L)
    assert(tbl.read().count() == 200L)
    // a merge reaching every file: its survivor read plans them all
    tbl.merge((1L to 200L by 10L).map(i => (i, s"w$i")).toDF("k", "v"))
    assert(tbl.lastRewrites == nFiles)
    tbl.optimize(smallBytes = 1L) // no file is under 1 byte: a pure partition pass
    assert(tbl.statusLookups == 0,
      s"stat'd ${tbl.statusLookups} files despite manifest-recorded lengths")
    // and the recorded lengths agree with the filesystem (scan plans
    // splits off them, so a wrong length would truncate or over-read)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tbl.read().inputFiles.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f).getPath)
      assert(fsys.getFileStatus(p).getLen > 0)
    }
    // a PRE-length manifest (trailing field stripped) degrades to the
    // stat-call path instead of failing or planning zero-length files
    val mf = new java.io.File(s"$dir/manifests").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).last
    val doctored = Files.readString(mf.toPath).linesIterator.map { l =>
      if (l.startsWith("f\t")) l.split("\t", -1).take(7).mkString("\t") else l
    }.mkString("\n")
    Files.writeString(mf.toPath, doctored)
    new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
    val legacy = new SnapshotTable(spark, dir, "k")
    val before = legacy.statusLookups
    assert(legacy.scan().count() == 200L)
    assert(legacy.statusLookups - before == doctored.linesIterator.count(_.startsWith("f\t")),
      "legacy entries should stat once each")
  }

  /** Descriptions of the Spark jobs `body` starts, seen by a listener
    * filtering on a job group of its own. A marker job closes the
    * group: the listener bus delivers in order, so once the marker is
    * seen every earlier job start has been. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try {
        body
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).toSeq.filterNot(_ == marker)
  }

  test("manifest-planned reads: no read or keyed write over more than 32 files runs a file-listing job") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(40))
    tbl.create((1L to 4000L).map(i => (i, s"v$i")).toDF("k", "v"))
    val nFiles = tbl.read().inputFiles.length
    // past Spark's parallel-listing threshold (32 paths): a by-path read
    // of these files would list them in a Spark job
    assert(nFiles > 32, s"only $nFiles live files")
    val upserts = (1L to 4000L by 50L).map(i => (i, s"w$i")).toDF("k", "v")
    val doomed = (26L to 4000L by 50L).map(Tuple1(_)).toDF("k")
    val jobs = jobDescriptions {
      assert(tbl.read().count() == 4000L)
      assert(tbl.readWhere("k", Some(1L), Some(4000L)).count() == 4000L)
      assert(tbl.readKeys(upserts.select("k")).count() == 80L)
      tbl.merge(upserts)
      assert(tbl.lastRewrites > 32, s"merge rewrote ${tbl.lastRewrites} files")
      tbl.delete(doomed)
      assert(tbl.lastRewrites > 32, s"delete rewrote ${tbl.lastRewrites} files")
    }
    assert(jobs.nonEmpty, "the job group saw no jobs")
    val listings = jobs.filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"${listings.size} listing jobs: ${listings.mkString("; ")}")
    assert(tbl.countRows() == 3920L)
    assert(tbl.readKeys(upserts.select("k")).filter(col("v").startsWith("w")).count() == 80L)
  }

  test("a persisted read() serves the next read() of the same snapshot from the cache") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(4))
    tbl.create((1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"))
    val first = tbl.read().persist()
    try {
      assert(first.count() == 200L)
      val again = tbl.read()
      val cached = again.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.nonEmpty, s"second read() planned without the cache:\n${again.queryExecution.withCachedData}")
      assertSameRows(again, first)
    } finally first.unpersist(blocking = true)
  }

  test("deletion vectors: a sparse forget rewrites ZERO files; reads, counts, bounds, and the feed stay exact") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4),
      deleteVectorMaxRows = 50L)
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    val v0 = tbl.create(df)
    val files0 = tbl.filesAt(v0).toSet
    // 1-key delete on a ~100-row file: a deletion vector, not a rewrite
    val v1 = tbl.delete(Seq(7L).toDF("k"))
    assert(tbl.lastRewrites == 0, "a 1-key DV delete rewrote data files")
    assert(tbl.filesAt(v1).toSet == files0, "DV delete changed the data file set")
    assertSameRows(tbl.read(), df.filter(col("k") =!= 7L))
    assert(tbl.countRows() == 399L, "countRows must subtract masked rows")
    assert(tbl.countWhere("k", Some(1L), Some(10L)) == 9L,
      "a range count over a DV'd file must not count masked rows")
    // deleting the global MIN itself: boundsOf may not trust the DV'd
    // file's recorded extreme
    tbl.delete(Seq(1L).toDF("k"))
    val b = tbl.boundsOf("k").collect()(0)
    assert((b.getLong(0), b.getLong(1)) == ((2L, 400L)),
      s"bounds served a masked extreme: (${b.getLong(0)}, ${b.getLong(1)})")
    // point reads: range/bloom say "present", the vector says gone
    assert(tbl.readKeys(Seq(7L, 8L).toDF("k")).collect().map(_.getLong(0)).toSeq == Seq(8L))
    // the change feed reports EXACTLY the masked row — same-path files
    // diff by their vector, both sides masked
    val feed = tbl.changesKeyed(v0, v1).select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(feed == Seq((7L, "delete")), s"DV delete fed $feed")
    // accumulation: another delete on the same file unions its sidecar
    tbl.delete(Seq(8L).toDF("k"))
    assert(tbl.lastRewrites == 0)
    assert(tbl.countRows() == 397L)
    assertSameRows(tbl.read(), df.filter(!col("k").isin(1L, 7L, 8L)))
    // re-deleting an ALREADY-masked key adds zero to the masked count:
    // the matched pass counts against the file's masked view, or
    // countRows would drift below the rows actually masked
    tbl.delete(Seq(7L, 10L).toDF("k")) // 7 is already masked; only 10 is new
    assert(tbl.lastRewrites == 0)
    assert(tbl.countRows() == 396L, "re-deleting a masked key double-counted")
    assertSameRows(tbl.read(), df.filter(!col("k").isin(1L, 7L, 8L, 10L)))
    // a merge touching the DV'd file rewrites it MASKED: nothing resurrects
    tbl.merge(Seq((9L, "V9")).toDF("k", "v"))
    assertSameRows(tbl.read().filter(col("k") <= 10L),
      Seq((2L, "v2"), (3L, "v3"), (4L, "v4"), (5L, "v5"), (6L, "v6"),
        (9L, "V9")).toDF("k", "v"))
  }

  test("deletion vectors: scan() masks, the bare relation refuses, optimize materializes, vacuum spares sidecars") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4),
      deleteVectorMaxRows = 50L)
    val df = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    tbl.create(df)
    tbl.delete(Seq(5L, 105L).toDF("k"))
    assert(tbl.lastRewrites == 0)
    // the Catalyst scan applies vectors (clean files pruned relation +
    // masked residue)
    assert(tbl.scan().count() == 198L)
    assert(tbl.scan().filter(col("k") === 5L).isEmpty)
    // the relation route (format provider's batch half, SQL views) on a
    // DV-carrying snapshot serves the MASKED rows through the
    // PrunedFilteredScan fallback — never resurrects deleted rows, and
    // never refuses the read (r16 refused; r17 masks)
    val maskedRel = tbl.scanRelation()
    assert(maskedRel.isInstanceOf[graft.incremental.GraftMaskedRelation])
    val viaRel = spark.baseRelationToDataFrame(maskedRel)
    assert(viaRel.count() == 198L)
    assert(viaRel.filter(col("k") === 5L).isEmpty)
    assert(viaRel.filter(col("k") === 6L).count() == 1L)
    // optimize pays the merge-on-read debt: vectors materialize away,
    // content identical, and the relation goes back to the file-backed
    // fast path (HadoopFsRelation, planner-integrated pruning)
    tbl.optimize(smallBytes = 1L) // no file is "small" — DVs alone force the rewrite
    assertSameRows(tbl.read(), df.filter(!col("k").isin(5L, 105L)))
    assert(!tbl.scanRelation().isInstanceOf[graft.incremental.GraftMaskedRelation])
    // the optimize is still feed-silent (content-identical by contract)
    val hist = tbl.history
    assert(hist.last._3 == "optimize")
    // sidecars: referenced by the pre-optimize manifests → vacuum keeps
    // them; retire those manifests and vacuum(0) reclaims them
    // (_SUCCESS markers are never referenced and always reclaimable)
    val reclaimable = tbl.vacuum(graceMs = 0L).filterNot(_.endsWith("_SUCCESS"))
    assert(reclaimable.isEmpty, s"vacuum reclaimed referenced files: $reclaimable")
    tbl.retire(keepLast = 1)
    val gone = tbl.vacuum(graceMs = 0L)
    assert(gone.nonEmpty, "retired DV sidecars and files should be reclaimable")
    assertSameRows(tbl.read(), df.filter(!col("k").isin(5L, 105L)))
  }

  test("column mapping: rename is manifest-only, old files serve the renamed column; stats, feed, scan, and time travel survive; drop retires the physical name") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k",
      clusterPartitions = Some(2), statsColumns = Seq("v"))
    val df = (1L to 100L).map(i => (i, s"v$i", i * 10L)).toDF("k", "txt", "v")
    val v0 = tbl.create(df)
    val filesBefore = tbl.filesAt(v0).toSet
    // RENAME txt -> body: zero data files rewritten
    val v1 = tbl.renameColumn("txt", "body")
    assert(tbl.filesAt(v1).toSet == filesBefore, "a rename must not touch data files")
    assert(tbl.schema.fieldNames.toSeq == Seq("k", "body", "v"))
    // old files serve the renamed column through every read route
    assert(tbl.read().filter(col("k") === 7L).select("body").head.getString(0) == "v7")
    assert(tbl.scan().filter(col("k") === 7L).select("body").head.getString(0) == "v7")
    assert(tbl.readKeys(Seq(7L).toDF("k")).select("body").head.getString(0) == "v7")
    // the relation route takes the masked fallback (aliases spliced in)
    assert(tbl.scanRelation().isInstanceOf[graft.incremental.GraftMaskedRelation])
    assert(spark.baseRelationToDataFrame(tbl.scanRelation())
      .filter(col("body") === "v7").count() == 1)
    // stats survive: pruning on the RENAMED secondary column, and a
    // renamed-column range read answers exactly
    val vRenamedStats = tbl.renameColumn("v", "score")
    assert(tbl.readWhere("score", Some(100L), Some(200L)).count() == 11)
    assert(tbl.countWhere("score", Some(100L), Some(200L)) == 11)
    assert(tbl.boundsOf("score").head.getLong(0) == 10L)
    // merge AFTER the rename: touched slice restages under the stable
    // physical names; untouched files still carry by reference
    tbl.merge(Seq((7L, "V7", 777L)).toDF("k", "body", "score"))
    assert(tbl.read().filter(col("k") === 7L).select("body", "score")
      .head match { case r => r.getString(0) == "V7" && r.getLong(1) == 777L })
    assert(tbl.read().count() == 100)
    // change feed ACROSS the renames: emitted in the to-version's
    // logical names; the rename commits themselves feed zero rows
    val feed = tbl.changesKeyed(v0, tbl.currentVersion.get)
    assert(feed.columns.toSeq == Seq("k", "body", "score", "_change_type"))
    assert(feed.collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq ==
      Seq((7L, "V7", "update")))
    assert(tbl.changesBetween(v0, vRenamedStats).count() == 0,
      "pure renames must feed nothing")
    // time travel: the pre-rename version still reads under ITS names
    assert(tbl.readVersion(v0).columns.toSeq == Seq("k", "txt", "v"))
    assert(tbl.scanAt(Some(v0)).filter(col("txt") === "v7").count() == 1)
    // rename-back drops the mapping entry; the fast relation returns
    tbl.renameColumn("body", "txt")
    tbl.renameColumn("score", "v")
    assert(!tbl.scanRelation().isInstanceOf[graft.incremental.GraftMaskedRelation])
    // key column is immovable
    val ek = intercept[IllegalArgumentException](tbl.renameColumn("k", "id"))
    assert(ek.getMessage.contains("key column"))
    // DROP retires the physical name: re-adding it is refused (old
    // files would resurrect the dropped values), a fresh name works
    tbl.dropColumn("v")
    assert(tbl.schema.fieldNames.toSeq == Seq("k", "txt"))
    assert(tbl.read().columns.toSeq == Seq("k", "txt"))
    val er = intercept[IllegalArgumentException](
      tbl.merge(Seq((200L, "x", 1L)).toDF("k", "txt", "v")))
    assert(er.getMessage.contains("resurrect"))
    tbl.merge(Seq((200L, "x", 1L)).toDF("k", "txt", "v2raw")
      .withColumn("v2", when(col("k").isNotNull, col("v2raw"))).drop("v2raw"))
    assert(tbl.read().filter(col("k") <= 100L).agg(sum(when(col("v2").isNull, 1)
      .otherwise(0))).head.getLong(0) == 100L, "old rows read the fresh column as null")
  }

  test("deletion vectors: cap, emptied files, and oversized batches fall back to copy-on-write") {
    val s = spark
    import s.implicits._
    // oversized batch: more doomed keys than the per-file cap → COW
    val d1 = freshDir()
    val t1 = new SnapshotTable(spark, d1, "k", clusterPartitions = Some(4),
      deleteVectorMaxRows = 5L)
    t1.create((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    t1.delete((1L to 6L).toDF("k"))
    assert(t1.lastRewrites > 0, "an over-cap batch must rewrite, not bloat sidecars")
    assertSameRows(t1.read(), (7L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    // accumulated cap: per-file masked rows exceed the cap on the THIRD
    // delete → that file rewrites (and its vector clears)
    val d2 = freshDir()
    val t2 = new SnapshotTable(spark, d2, "k", clusterPartitions = Some(2),
      deleteVectorMaxRows = 4L)
    t2.create((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")) // 2 files of ~50
    t2.delete(Seq(1L, 2L).toDF("k")) // masked 2 ≤ 4: DV
    assert(t2.lastRewrites == 0)
    t2.delete(Seq(3L, 4L).toDF("k")) // masked 4 ≤ 4: DV union
    assert(t2.lastRewrites == 0)
    t2.delete(Seq(5L).toDF("k")) // masked would be 5 > 4: rewrite
    assert(t2.lastRewrites == 1)
    assertSameRows(t2.read(), (6L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    // emptied file: every row of one file doomed (under the cap) — the
    // file must DROP, not carry an all-masked vector
    val d3 = freshDir()
    val t3 = new SnapshotTable(spark, d3, "k", clusterPartitions = Some(4),
      deleteVectorMaxRows = 50L)
    t3.create((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")) // 4 files of ~25
    val firstFileKeys = t3.read().withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .groupBy("f").agg(org.apache.spark.sql.functions.collect_list("k").as("ks"))
      .collect()(0).getSeq[Long](1)
    t3.delete(firstFileKeys.toDF("k"))
    assert(t3.lastRewrites == 1, "an emptied file should rewrite (to nothing)")
    assert(t3.countRows() == 100L - firstFileKeys.size)
    assertSameRows(t3.read(),
      (1L to 100L).filterNot(firstFileKeys.contains).map(i => (i, s"v$i")).toDF("k", "v"))
  }

  test("deletion vectors in applyDelta: delete-only files take vectors, upsert-touched files rewrite") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4),
      deleteVectorMaxRows = 50L)
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    val v0 = tbl.create(df)
    // the CDC-batch shape: one upsert (touches its carrier file) plus
    // scattered deletes landing in OTHER files
    val v1 = tbl.applyDelta(Seq((5L, "V5")).toDF("k", "v"), Seq(250L, 350L).toDF("k"))
    assert(tbl.lastRewrites == 1,
      s"only the upsert's carrier should rewrite, got ${tbl.lastRewrites}")
    assert(tbl.countRows() == 398L)
    assertSameRows(tbl.read().filter(col("k").isin(5L, 250L, 350L)),
      Seq((5L, "V5")).toDF("k", "v"))
    // the feed across a DV delta reports the full delta
    val feed = tbl.changesKeyed(v0, v1).select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(feed == Seq((5L, "update"), (250L, "delete"), (350L, "delete")), s"got $feed")
    // upsert-wins with a key in BOTH halves: its carrier file must
    // rewrite (never a vector — the row is replaced, not doomed)
    tbl.applyDelta(Seq((260L, "V260")).toDF("k", "v"), Seq(260L, 450L).toDF("k"))
    assert(tbl.countRows() == 398L, "both-halves key must land as its upsert")
    assertSameRows(tbl.read().filter(col("k") === 260L), Seq((260L, "V260")).toDF("k", "v"))
    // a pure-delete delta on a vectored handle stages NO data files
    val before = tbl.history.last._4
    tbl.applyDelta(df.limit(0), Seq(17L).toDF("k"))
    assert(tbl.lastRewrites == 0, "a pure scattered-delete delta must not rewrite")
    assert(tbl.history.last._4 == before, "a pure-DV delta must not add data files")
    assert(tbl.countRows() == 397L)
  }

  test("no-op keyed writes: delete keys that miss a kept vectored file, or an empty merge, commit nothing") {
    val s = spark
    import s.implicits._
    val tbl = new SnapshotTable(spark, freshDir(), "k", clusterPartitions = Some(1),
      deleteVectorMaxRows = 5L)
    val none = Seq.empty[(Long, String)].toDF("k", "v")
    // keys 1, 3, 5 in one file: key 2 falls inside its range, so the
    // prune keeps the file, but no row of it is doomed
    val v0 = tbl.create(Seq(1L, 3L, 5L).map(k => (k, s"v$k")).toDF("k", "v"))
    val n0 = tbl.history.size
    assert(tbl.applyDelta(none, Seq(2L).toDF("k")) == v0)
    assert(tbl.delete(Seq(2L).toDF("k")) == v0)
    assert(tbl.merge(none) == v0)
    assert(tbl.currentVersion.contains(v0) && tbl.history.size == n0,
      s"a keyed write that changed nothing committed: ${tbl.history.map(_._3)}")
    // a new tag is the only thing such a write records
    val v1 = tbl.applyDelta(none, Seq(2L).toDF("k"), tag = "cursor-1")
    assert(tbl.history.map(_._3).last == "tag" && tbl.currentTag.contains("cursor-1"))
    assert(tbl.merge(none, tag = "cursor-1") == v1)
    assertSameRows(tbl.read(), Seq(1L, 3L, 5L).map(k => (k, s"v$k")).toDF("k", "v"))
  }

  test("format provider batch write: SaveMode semantics, keyed merge option, tag riding") {
    val s = spark
    val dir = freshDir()
    def write(df: org.apache.spark.sql.DataFrame) = df.write.format("graft-snapshot")
      .option("path", dir).option("key", "k")
    write(kv(1L -> "a", 2L -> "b")).option("tag", "batch-0").save() // default ErrorIfExists → create
    val tbl = new SnapshotTable(spark, dir, "k")
    assert(tbl.currentTag.contains("batch-0"))
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
    // ErrorIfExists refuses a second create
    val e = intercept[IllegalStateException](write(kv(9L -> "z")).save())
    assert(e.getMessage.contains("already exists"))
    // Ignore is a no-op on an existing table
    write(kv(9L -> "z")).mode("ignore").save()
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b"))
    // Append default: blind append
    write(kv(3L -> "c")).mode("append").save()
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "b", 3L -> "c"))
    // Append + write=merge: the reference's ON CONFLICT from a plain writer
    write(kv(2L -> "B", 4L -> "d")).mode("append").option("write", "merge").save()
    assertSameRows(tbl.read(), kv(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // merge enforces key-uniqueness like the Scala handle
    intercept[IllegalArgumentException](
      write(kv(7L -> "x", 7L -> "y")).mode("append").option("write", "merge").save())
    // ...including on the FIRST write (merge-intent create): a dup-key
    // batch must never silently seed a dup-key table
    val d2 = freshDir()
    intercept[IllegalArgumentException](
      kv(7L -> "x", 7L -> "y").write.format("graft-snapshot")
        .option("path", d2).option("key", "k")
        .mode("append").option("write", "merge").save())
    assert(!new SnapshotTable(spark, d2, "k").exists,
      "a rejected first merge write must not create the table")
    // Overwrite replaces wholesale
    write(kv(5L -> "e")).mode("overwrite").save()
    assertSameRows(tbl.read(), kv(5L -> "e"))
    // prior versions remain readable (it was a commit, not a wipe)
    assertSameRows(tbl.readVersion(0L), kv(1L -> "a", 2L -> "b"))
  }

  test("pure SQL route: CREATE TEMPORARY VIEW ... USING graft-snapshot serves the pruned relation") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(8))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val nFiles = tbl.read().inputFiles.length
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_sql_v USING `graft-snapshot` " +
      s"OPTIONS (path '$dir', `key` 'k')")
    try {
      // a SQL-only user's query: plain WHERE, no Scala handle anywhere
      val got = spark.sql("SELECT v FROM graft_sql_v WHERE k = 7").collect()
      assert(got.map(_.getString(0)).toSeq == Seq("v7"))
      // and the predicate still file-skips through the manifest index
      val pruned = spark.sql("SELECT * FROM graft_sql_v WHERE k >= 390")
      assert(pruned.count() == 11)
      val listed = listedFiles(pruned)
      assert(listed <= 2, s"SQL view read kept $listed of $nFiles files for a tail range")
    } finally spark.catalog.dropTempView("graft_sql_v")
  }

  test("INSERT INTO a graft-snapshot view fails loudly — never a manifest-invisible write") {
    val s = spark
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a"))
    val v0 = tbl.currentVersion
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ins_v USING `graft-snapshot` " +
      s"OPTIONS (path '$dir', `key` 'k')")
    // the same relation reached through a DataFrame's temp view
    spark.read.format("graft-snapshot").option("key", "k").load(dir)
      .createOrReplaceTempView("graft_ins_df_v")
    try for (view <- Seq("graft_ins_v", "graft_ins_df_v")) {
      // Spark's v1 INSERT path writes parquet straight into the
      // relation's root — bytes no manifest references, i.e. rows that
      // silently never appear in a read. The sentinel second rootPath
      // turns that into a loud AnalysisException naming the supported
      // write route instead.
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"INSERT INTO $view VALUES (2, 'b')"))
      assert(e.getMessage.contains("UNSUPPORTED_INSERT"), view)
      assert(e.getMessage.contains("graft-snapshot"), s"$view: the error should name the write route")
      assert(tbl.currentVersion == v0, s"$view: a rejected INSERT must not commit")
      assertSameRows(tbl.read(), kv(1L -> "a"))
      // and no rogue file landed at the table root
      val rogue = new java.io.File(dir).listFiles()
        .filter(_.isFile).map(_.getName).filterNot(_.startsWith("."))
      assert(rogue.isEmpty, s"$view: INSERT left manifest-invisible files: ${rogue.toSeq}")
    } finally {
      spark.catalog.dropTempView("graft_ins_v")
      spark.catalog.dropTempView("graft_ins_df_v")
    }
  }

  test("format provider time travel: versionAsOf and timestampAsOf options") {
    val s = spark
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a")) // v0
    tbl.merge(kv(1L -> "A", 2L -> "b")) // v1
    def read(extra: (String, String)*) = extra.foldLeft(
      spark.read.format("graft-snapshot").option("path", dir).option("key", "k")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
    assertSameRows(read(), kv(1L -> "A", 2L -> "b"))
    assertSameRows(read("versionAsOf" -> "0"), kv(1L -> "a"))
    // timestampAsOf: a future instant resolves to the newest version
    val future = (System.currentTimeMillis() + 3600000L).toString
    assertSameRows(read("timestampAsOf" -> future), kv(1L -> "A", 2L -> "b"))
    // versionAsOf wins when both are set
    assertSameRows(read("versionAsOf" -> "0", "timestampAsOf" -> future), kv(1L -> "a"))
    intercept[IllegalStateException](read("versionAsOf" -> "99").collect())
  }

  test("format provider batch half: spark.read.format(graft-snapshot) serves the pruned scan relation") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(8))
    tbl.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    val nFiles = tbl.read().inputFiles.length
    assert(nFiles > 2)
    // the short name registers through META-INF/services — the batch
    // half of the same format string the stream ends use
    val df = spark.read.format("graft-snapshot")
      .option("path", dir).option("key", "k").load()
    assertSameRows(df, tbl.read())
    // pushed filters reach the manifest-backed FileIndex: a key-range
    // predicate written as a PLAIN .filter file-skips like scan() does
    val filtered = spark.read.format("graft-snapshot")
      .option("path", dir).option("key", "k").load()
      .filter(col("k") >= 390L)
    assert(filtered.count() == 11)
    val listed = listedFiles(filtered)
    assert(listed <= 2, s"format read kept $listed of $nFiles files for a tail range")
    // plan hygiene: the format read is Spark's own parquet scan — the
    // key predicate reaches the scan as a pushed filter and the stages
    // run under whole-stage codegen (the `*(n)` markers)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"),
      s"no pushed filters in the format read plan:\n$plan")
    assert(plan.contains("*("), "format read fell out of whole-stage codegen")
  }

  test("overwrite on a column-mapped table keeps physical names: the change feed serves the renamed column across it") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    val v0 = tbl.create(kv(1L -> "a", 2L -> "b"))
    tbl.renameColumn("v", "body")
    val v2 = tbl.create(kv(1L -> "a", 3L -> "c").toDF("k", "body"))
    assert(tbl.history.map(_._3) == Seq("create", "rename", "overwrite"))
    assertSameRows(tbl.read(), kv(1L -> "a", 3L -> "c").toDF("k", "body"))
    // the feed across the overwrite reads PRE-overwrite files with the
    // carried mapping: their body values must be the real bytes, never
    // the null-fill an empty-colmap overwrite commit would cause
    val feed = tbl.changesBetween(v0, v2)
    assert(feed.filter(col("body").isNull).count() == 0,
      "the renamed column must never null-fill across an overwrite")
    val removed = feed.filter(col("_change") === "removed")
      .select("k", "body").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val added = feed.filter(col("_change") === "added")
      .select("k", "body").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(removed == Set(2L -> "b") && added == Set(3L -> "c"))
    // resurrection guard: an overwrite column named after the
    // renamed-away PHYSICAL would serve the old bytes as new history
    val e = intercept[IllegalArgumentException](tbl.create(kv(9L -> "x")))
    assert(e.getMessage.contains("physical"))
    // time travel still serves each version under its own names
    assert(tbl.readVersion(v0).columns.toSeq == Seq("k", "v"))
    assert(collectSorted(tbl.readVersion(v0)) == collectSorted(kv(1L -> "a", 2L -> "b")))
  }

  test("overwrite that DROPS a mapped column retires its physical name: a later ADD COLUMNS cannot resurrect its bytes") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a", 2L -> "b"))
    tbl.renameColumn("v", "body") // body is mapped to physical "v"
    // overwrite WITHOUT body: the mapping entry for body is dropped,
    // but pre-overwrite files still hold its bytes under physical "v"
    val s = spark; import s.implicits._
    val v2 = tbl.create(Seq((1L, 10), (3L, 30)).toDF("k", "n"))
    assert(tbl.read().columns.toSeq == Seq("k", "n"))
    // ADD COLUMNS (v ...) must be rejected: the physical name "v" is
    // haunted by the renamed-away column's bytes, and a change feed
    // across the overwrite would serve them as the new column's history
    val e = intercept[IllegalArgumentException](tbl.addColumn("v", StringType))
    assert(e.getMessage.contains("resurrect"))
    // a fresh name is fine, and the feed across the overwrite stays sane
    tbl.addColumn("note", StringType)
    assert(tbl.read().columns.toSeq == Seq("k", "n", "note"))
    assert(tbl.changesBetween(v2, tbl.currentVersion.get).count() == 0)
  }

  test("null-key guard: fresh writes reject at stage; a pre-guard table keeps metadata ops and repairNullKeys migrates it") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    val nulled = kv(1L -> "a", 2L -> "nullme").withColumn("k",
      when(col("v") === "nullme", lit(null).cast("long")).otherwise(col("k")))
    // fresh null keys are rejected where the file is born
    val e = intercept[IllegalArgumentException](tbl.create(nulled))
    assert(e.getMessage.contains("null"))
    // fabricate the PRE-GUARD legacy shape (a table committed before
    // the guard existed) through the test seam
    tbl.allowNullKeysStaging = true
    try tbl.create(nulled) finally tbl.allowNullKeysStaging = false
    assert(tbl.read().count() == 2)
    // metadata/carry-forward ops keep working on the legacy table —
    // the commit-level guard bricked ALL of these
    tbl.setTag("w1")
    assert(tbl.currentTag.contains("w1"))
    assert(tbl.restore(tbl.currentVersion.get) > 0)
    // a rewrite that would restage the legacy null rows points at the repair
    val e2 = intercept[IllegalArgumentException](tbl.merge(kv(1L -> "A")))
    assert(e2.getMessage.contains("repairNullKeys"))
    // one-shot repair: null-key rows dropped, proven-clean entries, all ops work
    tbl.repairNullKeys()
    assertSameRows(tbl.read(), kv(1L -> "a"))
    tbl.merge(kv(1L -> "A", 3L -> "c"))
    assertSameRows(tbl.read(), kv(1L -> "A", 3L -> "c"))
    // an already-clean table repairs as a no-op (no new version)
    val v = tbl.currentVersion.get
    assert(tbl.repairNullKeys() == v)
  }

  test("type widening: INT→BIGINT and FLOAT→DOUBLE are manifest-only; both generations read wide, stats stay exact, key blooms strip") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // int-keyed table with a float stats column, per-file key blooms on
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(2),
      statsColumns = Seq("score"), keyBloomBits = 1 << 12)
    val v0 = tbl.create((1 to 100).map(i => (i, i / 10.0f, s"v$i"))
      .toDF("k", "score", "v"))
    val filesBefore = tbl.read().inputFiles.toSet
    // lossy changes stay rejected
    intercept[IllegalArgumentException](
      tbl.widenColumn("k", org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](
      tbl.widenColumn("v", org.apache.spark.sql.types.LongType))
    // widen both: ONE commit each, zero files rewritten
    tbl.widenColumn("k", org.apache.spark.sql.types.LongType)
    tbl.widenColumn("score", org.apache.spark.sql.types.DoubleType)
    assert(tbl.history.map(_._3).takeRight(2) == Seq("widen", "widen"))
    assert(tbl.read().inputFiles.toSet == filesBefore)
    assert(tbl.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(tbl.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    // pre-widen files read WIDE through every route (scan + catalog SQL)
    assert(tbl.read().agg(sum(col("k"))).head.getLong(0) == 5050L)
    assert(tbl.scan().filter(col("score") >= 5.0).count() == 51)
    // stats stay EXACT across the float→double re-encoding: a double
    // literal between the float max (10.0f) and nothing must not
    // wrongly prune — and countWhere's manifest arithmetic agrees
    assert(tbl.countWhere("score", Some(5.0d), None) == 51)
    // new writes land wide; merges across the boundary stay keyed
    // (blooms were stripped with the hash domain — range pruning holds)
    tbl.merge((101 to 110).map(i => (i.toLong, i / 10.0d, s"v$i"))
      .toDF("k", "score", "v"))
    assert(tbl.read().count() == 110)
    tbl.merge(Seq((5L, 99.0d, "updated")).toDF("k", "score", "v"))
    assert(tbl.read().filter(col("k") === 5L).select("v").head.getString(0) == "updated")
    // time travel serves the pre-widen version under its OWN types
    assert(tbl.readVersion(v0).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // the change feed across the widen reads both sides with the TO
    // types and reports the widen itself as silent (no logical change)
    val feed = tbl.changesBetween(v0, v0 + 2)
    assert(feed.count() == 0, "a pure widen must feed ZERO rows")
  }

  test("timestamp bounds floor uniformly: a sub-ms Instant bound never prunes a covering file") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // micros-precision timestamps: 1000.000700s and 2000.000100s
    val df = Seq(1000000700L, 2000000100L).toDF("us")
      .select(expr("timestamp_micros(us)").as("ts"))
    val tbl = new SnapshotTable(spark, dir, "ts", clusterPartitions = Some(2))
    tbl.create(df)
    // bound 1000.000300s: BELOW the first row's true value but ABOVE its
    // ms-floored file stat — an unfloored encoding would prove
    // "file max < lo" and wrongly prune the file holding the match
    val lo = java.time.Instant.ofEpochSecond(1000L, 300000L)
    assert(tbl.readRange(Some(lo), None).count() == 2L,
      "sub-ms Instant bound pruned a file whose true max covers it")
    assert(tbl.countWhere("ts", Some(lo), None) == 2L)
    // and the same bound as a LocalDateTime (the other java8 shape)
    val loLdt = java.time.LocalDateTime.ofInstant(lo, java.time.ZoneOffset.UTC)
    assert(tbl.readRange(Some(loLdt), None).count() == 2L)
  }
}
