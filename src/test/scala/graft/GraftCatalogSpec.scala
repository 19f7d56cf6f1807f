package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.SnapshotTable
import TestSpark._

/** The snapshot store's SQL catalog ([[graft.incremental.GraftCatalog]]):
  * pure-SQL SELECT / INSERT / DELETE / time travel on `graft.`/path``
  * tables must hit the SAME masked, manifest-pruned, atomically
  * committed machinery the Scala handle uses — including the one
  * combination the v1 relation route historically refused, snapshots
  * carrying deletion vectors. */
class GraftCatalogSpec extends AnyFunSuite {

  GraftSession.install(spark)

  private def freshDir(): String =
    TestSpark.tempDir("graft-cat").toString

  private def kv(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private def sqlRows(q: String): Seq[(Long, String)] =
    spark.sql(q).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  test("SELECT on graft.`/path` reads the committed snapshot; key comes from the manifest alone") {
    val dir = freshDir()
    new SnapshotTable(spark, dir, "k").create(kv(1L -> "a", 2L -> "b"))
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") == Seq(1L -> "a", 2L -> "b"))
  }

  test("INSERT INTO appends atomically; INSERT OVERWRITE replaces; both visible to the Scala handle") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a"))
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (2, 'b'), (3, 'c')")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(tbl.history.map(_._3) == Seq("create", "append"))
    spark.sql(s"INSERT OVERWRITE graft.`$dir` VALUES (9, 'z')")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") == Seq(9L -> "z"))
    assert(tbl.countRows() == 1)
  }

  test("DELETE FROM: translatable predicates take the metadata delete; untranslatable fall to the row-level path") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv((1L to 10L).map(i => i -> s"v$i"): _*))
    spark.sql(s"DELETE FROM graft.`$dir` WHERE k <= 3 OR v = 'v7'")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1) ==
      Seq(4L, 5L, 6L, 8L, 9L, 10L))
    assert(tbl.history.map(_._3) == Seq("create", "delete"))
    // a predicate the exact translation cannot express falls to the
    // ROW-LEVEL path (scan + atomic applyDelta) instead of failing —
    // covered in depth by the MERGE/UPDATE/DELETE test below
    spark.sql(s"DELETE FROM graft.`$dir` WHERE k % 2 = 0")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1) == Seq(5L, 9L))
  }

  test("VERSION AS OF / TIMESTAMP AS OF read pinned history; writes to a pinned version fail") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    val v0 = tbl.create(kv(1L -> "a"))
    val t0 = System.currentTimeMillis()
    Thread.sleep(1100) // manifest mtimes are second-grained on some filesystems
    tbl.merge(kv(1L -> "A", 2L -> "b"))
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir` VERSION AS OF $v0") == Seq(1L -> "a"))
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") == Seq(1L -> "A", 2L -> "b"))
    val ts = new java.sql.Timestamp(t0).toString
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir` TIMESTAMP AS OF '$ts'") == Seq(1L -> "a"))
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO graft.`$dir` VERSION AS OF $v0 VALUES (5, 'x')"))
    assert(e.getMessage != null)
    intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF ${v0 + 999}"))
  }

  test("a deletion-vector-carrying snapshot reads correctly through SQL — catalog AND format/view routes") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k",
      clusterPartitions = Some(2), deleteVectorMaxRows = 100)
    tbl.create(kv((1L to 40L).map(i => i -> s"v$i"): _*))
    tbl.delete(kv(7L -> "", 23L -> "").select(col("k")))
    assert(tbl.read().count() == 38)
    // catalog route
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1) ==
      (1L to 40L).filterNot(Set(7L, 23L)))
    // v1 format route (historically refused DV snapshots)
    val viaFormat = spark.read.format("graft-snapshot")
      .option("path", dir).option("key", "k").load()
    assert(viaFormat.count() == 38)
    assert(!viaFormat.select("k").collect().map(_.getLong(0)).toSet.contains(7L))
    // pure-SQL view route, with a filter that must still prune + apply the mask
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW cat_dv_v USING `graft-snapshot` " +
      s"OPTIONS (path '$dir', `key` 'k')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM cat_dv_v WHERE k <= 25").head.getLong(0) == 23)
      assert(spark.sql("SELECT count(*) AS n FROM cat_dv_v").head.getLong(0) == 38)
    } finally spark.catalog.dropTempView("cat_dv_v")
  }

  test("CREATE TABLE + CTAS-style insert round trip; DROP TABLE removes it") {
    val dir = freshDir() + "/t2"
    spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, v STRING) OPTIONS ('key' 'k')")
    assert(SnapshotTable.keyAt(spark, dir).contains("k"))
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (1, 'a')")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") == Seq(1L -> "a"))
    intercept[Exception](
      spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, v STRING) OPTIONS ('key' 'k')"))
    spark.sql(s"DROP TABLE graft.`$dir`")
    intercept[Exception](spark.sql(s"SELECT * FROM graft.`$dir`"))
  }

  test("handle cache evicts on out-of-band recreate: a drop+recreate with a different key never serves the stale key") {
    val dir = freshDir() + "/t3"
    spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, v STRING) OPTIONS ('key' 'k')")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (1, 'a')")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") == Seq(1L -> "a")) // handle now cached
    // out-of-band: another session / the Scala API nukes and recreates
    // the table at the same path keyed by v — THIS catalog sees no DROP,
    // so only the hit-time key re-probe can notice
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(dir))
    new SnapshotTable(spark, dir, "v").create(kv(1L -> "a", 2L -> "b"))
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$dir`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("key") == "v", "a stale cached handle would still report key k")
    // row-level DML addresses the NEW key column, not the stale one
    spark.sql(s"UPDATE graft.`$dir` SET k = k + 10 WHERE length(v) = 1")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") == Seq(11L -> "a", 12L -> "b"))
  }

  test("SHOW TABLES enumerates warehouse children; CREATE OR REPLACE lands as an overwrite commit with history") {
    val wh = freshDir()
    // a second catalog instance pointing a warehouse at wh
    spark.conf.set("spark.sql.catalog.graftwh", "graft.incremental.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftwh.warehouse", wh)
    try {
      spark.sql("CREATE TABLE graftwh.alpha (k BIGINT, v STRING) OPTIONS ('key' 'k')")
      spark.sql("CREATE TABLE graftwh.beta (k BIGINT, v STRING) OPTIONS ('key' 'k')")
      new java.io.File(s"$wh/not_a_table").mkdirs() // keyless dir: not listed
      val listed = spark.sql("SHOW TABLES IN graftwh").collect()
        .map(_.getString(1)).toSet
      assert(listed == Set("alpha", "beta"), s"got $listed")

      // CREATE OR REPLACE over existing = OVERWRITE commit, not drop+create:
      // history stays readable and the op log shows the overwrite
      spark.sql("INSERT INTO graftwh.alpha VALUES (1, 'a')")
      spark.sql("CREATE OR REPLACE TABLE graftwh.alpha (k BIGINT, n INT) OPTIONS ('key' 'k')")
      val tbl = new SnapshotTable(spark, s"$wh/alpha", "k")
      assert(tbl.history.map(_._3) == Seq("create", "append", "overwrite"))
      assert(spark.sql("SELECT * FROM graftwh.alpha").columns.toSeq == Seq("k", "n"))
      assert(spark.sql("SELECT count(*) FROM graftwh.alpha").head.getLong(0) == 0)
      assert(spark.sql("SELECT count(*) FROM graftwh.alpha VERSION AS OF 1")
        .head.getLong(0) == 1, "pre-replace history must stay time-travelable")

      // REPLACE ... AS SELECT lands data and schema in ONE overwrite commit
      spark.sql("CREATE OR REPLACE TABLE graftwh.beta OPTIONS ('key' 'k') " +
        "AS SELECT CAST(id AS BIGINT) AS k, CAST(id * 2 AS INT) AS n FROM range(3)")
      assert(sqlRowsInt(s"SELECT k, n FROM graftwh.beta") ==
        Seq(0L -> 0, 1L -> 2, 2L -> 4))
      assert(new SnapshotTable(spark, s"$wh/beta", "k")
        .history.map(_._3) == Seq("create", "overwrite"))

      // or-create arm: REPLACE of a missing table creates it
      spark.sql("CREATE OR REPLACE TABLE graftwh.gamma (k BIGINT) OPTIONS ('key' 'k')")
      assert(spark.sql("SHOW TABLES IN graftwh").count() == 3)

      // the key column is load-bearing: changing it on REPLACE rejects
      val e = intercept[Exception](spark.sql(
        "CREATE OR REPLACE TABLE graftwh.alpha (id BIGINT, v STRING) OPTIONS ('key' 'id')"))
      assert(e.getMessage.contains("key column"), e.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.graftwh")
      spark.conf.unset("spark.sql.catalog.graftwh.warehouse")
    }
  }

  private def sqlRowsInt(q: String): Seq[(Long, Int)] =
    spark.sql(q).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sortBy(_._1)

  test("ALTER TABLE RENAME/DROP COLUMN run the manifest-only column mapping; other alters reject") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a", 2L -> "b"))
    val filesBefore = spark.sql(s"SELECT * FROM graft.`$dir`").inputFiles.toSet
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN v TO body")
    assert(sqlRows(s"SELECT k, body FROM graft.`$dir`") == Seq(1L -> "a", 2L -> "b"))
    assert(tbl.history.map(_._3).last == "rename")
    // pure-SQL DML keeps working across the mapping
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (3, 'c')")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE body = 'a'")
    assert(sqlRows(s"SELECT k, body FROM graft.`$dir`") == Seq(2L -> "b", 3L -> "c"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN body TYPE INT"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN k TO id")) // the key
    spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN body")
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").columns.toSeq == Seq("k"))
  }

  test("MERGE INTO / UPDATE / non-translatable DELETE run the delta row-level path onto ONE atomic applyDelta") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv((1L to 10L).map(i => i -> s"v$i"): _*))
    // MERGE: matched-delete (3), matched-update (2), not-matched-insert (11)
    kv(2L -> "B", 3L -> "del", 11L -> "new").createOrReplaceTempView("rlo_src")
    try spark.sql(
      s"""MERGE INTO graft.`$dir` t USING rlo_src s ON t.k = s.k
         |WHEN MATCHED AND s.v = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.catalog.dropTempView("rlo_src")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") ==
      ((1L -> "v1") +: (2L -> "B") +: (4L to 10L).map(i => i -> s"v$i") :+ (11L -> "new")))
    assert(tbl.history.map(_._3).last == "delta",
      s"MERGE must land as ONE atomic applyDelta commit, got ${tbl.history.map(_._3)}")
    // UPDATE with a predicate the exact translation cannot express
    spark.sql(s"UPDATE graft.`$dir` SET v = 'even' WHERE k % 2 = 0")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`")
      .filter(_._1 % 2 == 0).map(_._2).toSet == Set("even"))
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").count(_._1 % 2 != 0) == 5) // 1,5,7,9,11
    // non-translatable DELETE falls to the row-level path (canDeleteWhere
    // rejected it; the rewrite keeps it runnable instead of erroring)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE k % 3 = 0")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1) ==
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L, 11L))
    // staging debris is gone after every statement
    val hp = new org.apache.hadoop.fs.Path(s"$dir/.rlo-stage")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(hp), ".rlo-stage must be cleaned after commit")
    // a key-CHANGING update (delete old id + insert new row under the hood)
    spark.sql(s"UPDATE graft.`$dir` SET k = k + 100 WHERE k = 11")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1).contains(111L))
    assert(!sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1).contains(11L))
  }

  test("CTAS creates + populates through the catalog; keyless format/view routes resolve the key from the manifest") {
    val dir = freshDir()
    new SnapshotTable(spark, dir, "k").create(kv(1L -> "a", 2L -> "b"))
    // keyless batch read: the #key header supplies the key column
    assert(spark.read.format("graft-snapshot").option("path", dir).load().count() == 2)
    // keyless pure-SQL view
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW cat_keyless " +
      s"USING `graft-snapshot` OPTIONS (path '$dir')")
    try assert(spark.sql("SELECT count(*) AS n FROM cat_keyless").head.getLong(0) == 2)
    finally spark.catalog.dropTempView("cat_keyless")
    // CTAS: createTable + the V1Write append in one statement
    val dir2 = freshDir() + "/ctas"
    spark.sql(s"CREATE TABLE graft.`$dir2` OPTIONS ('key' 'k') AS SELECT * FROM graft.`$dir`")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir2`") == Seq(1L -> "a", 2L -> "b"))
    assert(SnapshotTable.keyAt(spark, dir2).contains("k"))
    // keyless append to the EXISTING table
    kv(3L -> "c").write.format("graft-snapshot").option("path", dir)
      .mode("append").save()
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`").map(_._1) == Seq(1L, 2L, 3L))
    // a keyless write that would CREATE fails with the actionable message
    val e = intercept[IllegalArgumentException](
      kv(1L -> "x").write.format("graft-snapshot")
        .option("path", freshDir() + "/none").save())
    assert(e.getMessage.contains("key"))
  }

  test("ALTER TABLE ADD COLUMNS is one manifest-only commit: old rows read null, inserts carry values, all-or-nothing") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv(1L -> "a", 2L -> "b"))
    val filesBefore = spark.sql(s"SELECT * FROM graft.`$dir`").inputFiles.toSet
    val vBefore = tbl.currentVersion.get
    // TWO columns in one statement → ONE commit (atomic multi-change)
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (q DOUBLE, note STRING)")
    assert(tbl.currentVersion.get == vBefore + 1,
      "a multi-change ALTER must land as exactly one version bump")
    assert(tbl.history.map(_._3).last == "alter")
    // manifest-only: zero data files rewritten, pre-add rows read null
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").inputFiles.toSet == filesBefore)
    val pre = spark.sql(s"SELECT k, v, q, note FROM graft.`$dir`").collect()
    assert(pre.length == 2 && pre.forall(r => r.isNullAt(2) && r.isNullAt(3)))
    // inserts carry the new columns; both generations read correctly
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (3, 'c', 0.5, 'fresh')")
    val all = spark.sql(s"SELECT k, v, q, note FROM graft.`$dir` ORDER BY k").collect()
    assert(all.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(all(2).getDouble(2) == 0.5 && all(2).getString(3) == "fresh")
    assert(all(0).isNullAt(2) && all(1).isNullAt(3))
    // all-or-nothing: one valid add + one colliding add → nothing applies
    val vNow = tbl.currentVersion.get
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (ok INT, k STRING)"))
    assert(tbl.currentVersion.get == vNow, "a rejected multi-change ALTER must commit nothing")
    assert(!spark.sql(s"SELECT * FROM graft.`$dir`").columns.contains("ok"))
    // resurrection guard: dropping then re-adding the same name is rejected
    spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN note")
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (note STRING)"))
    assert(e.getMessage.contains("resurrect"))
    // non-nullable and positioned adds reject loudly
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (nn INT NOT NULL)"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (pos INT FIRST)"))
  }

  test("ALTER COLUMN TYPE widens INT→BIGINT manifest-only through SQL; lossy changes reject") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create((1 to 50).map(i => (i.toLong, i)).toDF("k", "n"))
    val filesBefore = tbl.read().inputFiles.toSet
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN n TYPE BIGINT")
    assert(tbl.history.map(_._3).last == "widen")
    assert(tbl.read().inputFiles.toSet == filesBefore, "a widen rewrites nothing")
    // pre-widen INT files read as BIGINT; post-widen writes hold values
    // only a BIGINT can carry
    assert(spark.sql(s"SELECT sum(n) AS s FROM graft.`$dir`").head.getLong(0) == 1275L)
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (51, 5000000000)")
    assert(spark.sql(s"SELECT max(n) AS m FROM graft.`$dir`").head.getLong(0) == 5000000000L)
    // narrowing rejects — Spark's own up-cast analysis gate fires
    // before the catalog ever sees it; a lossy same-width change
    // (string → int) dies in alterColumns with the widen message
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN n TYPE INT"))
    val e = intercept[IllegalArgumentException](
      tbl.widenColumn("n", org.apache.spark.sql.types.IntegerType))
    assert(e.getMessage.contains("widen"))
  }

  test("MERGE ... WHEN NOT MATCHED BY SOURCE: target-driven update and delete clauses land in the same atomic delta") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv((1L to 10L).map(i => i -> s"v$i"): _*))
    kv(2L -> "B", 11L -> "new").createOrReplaceTempView("nmbs_src")
    // matched → update; not matched → insert; not matched by source →
    // DELETE the small keys, UPDATE the rest — the clause that makes
    // the TARGET scan the action source
    try spark.sql(
      s"""MERGE INTO graft.`$dir` t USING nmbs_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.k <= 3 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '!')""".stripMargin)
    finally spark.catalog.dropTempView("nmbs_src")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") ==
      ((2L -> "B") +: (4L to 10L).map(i => i -> s"v$i!") :+ (11L -> "new")))
    assert(tbl.history.map(_._3) == Seq("create", "delta"),
      "the whole NMBS merge must land as ONE atomic applyDelta commit")
  }

  test("a commit racing a MERGE between scan and applyDelta fails the statement loudly — never a silent lost update") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k")
    tbl.create(kv((1L to 5L).map(i => i -> s"v$i"): _*))
    kv(3L -> "upd", 9L -> "ins").createOrReplaceTempView("rlo_race_src")
    // land a concurrent commit in the window between the MERGE's
    // (pinned) scan and its driver-side applyDelta: the statement's
    // matched/not-matched decisions are now derived from a stale
    // snapshot, so the CAS pin must abort it with the commit protocol's
    // own exception — r17 resolved at commit time and would have
    // silently applied the stale decisions over the racer
    graft.incremental.GraftDeltaWrite.onBeforeCommit = () =>
      new SnapshotTable(spark, dir, "k").merge(kv(9L -> "racer"))
    try {
      val e = intercept[Throwable](spark.sql(
        s"""MERGE INTO graft.`$dir` t USING rlo_race_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
        s"expected the CAS ConcurrentModificationException, got $e")
    } finally {
      graft.incremental.GraftDeltaWrite.onBeforeCommit = () => ()
    }
    // the racer's row survives; NONE of the failed statement's actions applied
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") ==
      ((1L to 5L).map(i => i -> s"v$i") :+ (9L -> "racer")))
    // the user-level retry re-derives from the fresh snapshot and lands
    try spark.sql(
      s"""MERGE INTO graft.`$dir` t USING rlo_race_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.catalog.dropTempView("rlo_race_src")
    assert(sqlRows(s"SELECT k, v FROM graft.`$dir`") ==
      Seq(1L -> "v1", 2L -> "v2", 3L -> "upd", 4L -> "v4", 5L -> "v5", 9L -> "ins"))
    // staging debris of the aborted statement is cleaned with its dir
    val hp = new org.apache.hadoop.fs.Path(s"$dir/.rlo-stage")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(hp))
  }

  test("catalog reads still file-prune: pushed key predicate skips files via the manifest") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    tbl.create(kv((1L to 400L).map(i => i -> s"v$i"): _*))
    // SQL answer is correct through the catalog route
    val n = spark.sql(s"SELECT count(*) AS n FROM graft.`$dir` WHERE k <= 50").head.getLong(0)
    assert(n == 50)
    // and the scan the catalog builds prunes entries from the SAME
    // manifest stats — driven here on the spec's handle so the columnar
    // route's pruning seam is visible (the SQL route's handle is
    // catalog-internal)
    val sb = new graft.incremental.GraftScanBuilder(tbl, None, tbl.schema)
    sb.pushFilters(Array(org.apache.spark.sql.sources.LessThanOrEqual("k", 50L)))
    val scan = sb.build()
    assert(scan.isInstanceOf[org.apache.spark.sql.graft.GraftColumnarScan],
      s"a DV-free snapshot must take the native columnar route, got ${scan.getClass}")
    assert(tbl.lastListedFiles >= 1 && tbl.lastListedFiles < 4,
      s"pushed key range should keep <4 of 4 files, kept ${tbl.lastListedFiles}")
  }

  test("catalog SELECT plans the native columnar scan (BatchScan + ColumnarToRow + codegen); DV snapshots keep the masked route") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    tbl.create(kv((1L to 400L).map(i => i -> s"v$i"): _*))
    val df = spark.sql(s"SELECT k, v FROM graft.`$dir` WHERE k <= 50")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan)
    assert(plan.contains("ColumnarToRow"), plan)
    assert(plan.contains("*("), s"whole-stage codegen must cover the catalog read:\n$plan")
    assert(df.count() == 50)
    // a column-mapped table stays columnar: batch columns are
    // positional, the logical names are a pure relabeling
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN v TO body")
    val df2 = spark.sql(s"SELECT k, body FROM graft.`$dir` WHERE body = 'v7'")
    assert(df2.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(df2.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(7L -> "v7"))
    // time travel rides the same columnar route, pinned
    val v0 = 1L
    assert(spark.sql(s"SELECT k, body FROM graft.`$dir` VERSION AS OF $v0").count() == 400)
    // a DV-carrying snapshot falls back to the masked V1 relation —
    // and the masked rows stay exact
    val dir2 = freshDir()
    val t2 = new SnapshotTable(spark, dir2, "k",
      clusterPartitions = Some(2), deleteVectorMaxRows = 100)
    t2.create(kv((1L to 40L).map(i => i -> s"v$i"): _*))
    t2.delete(kv(7L -> "x").select(col("k")))
    val df3 = spark.sql(s"SELECT k FROM graft.`$dir2`")
    assert(!df3.queryExecution.executedPlan.toString.contains("BatchScan"),
      "DV snapshots must take the masked fallback, not the bare parquet scan")
    assert(df3.count() == 39)
    assert(!df3.collect().map(_.getLong(0)).contains(7L))
  }

  test("runtime filtering: an injected IN predicate re-prunes the columnar scan's files at execution time") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    tbl.create(kv((1L to 400L).map(i => i -> s"v$i"): _*))
    val sb = new graft.incremental.GraftScanBuilder(tbl, None, tbl.schema)
    sb.pushFilters(Array.empty)
    val scan = sb.build()
    val rt = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
    // the scan advertises the key as prunable — what invites Spark's
    // dynamic-pruning rule to inject the selective join side
    assert(rt.filterAttributes().map(_.describe()).contains("k"))
    // two keys in one file's range: the runtime re-prune must keep <4 files
    tbl.lastListedFiles = -1
    rt.filter(Array(org.apache.spark.sql.graft.GraftSqlShim.inPredicate(
      "k", Seq(5L, 17L), org.apache.spark.sql.types.LongType)))
    val kept = tbl.lastListedFiles
    assert(kept >= 1 && kept < 4,
      s"an IN(5,17) runtime filter should keep 1 of 4 key-clustered files, kept $kept")
    // and the shrunken scan still plans and serves (the partitions come
    // from the re-pruned file set)
    assert(scan.toBatch.planInputPartitions().nonEmpty)
    // end-to-end: a selective dim join over the catalog table answers
    // exactly (whether or not the optimizer chose to inject the filter)
    kv(5L -> "dim5", 17L -> "dim17").createOrReplaceTempView("rt_dim")
    try {
      val joined = spark.sql(
        s"""SELECT t.k, t.v FROM graft.`$dir` t
           |JOIN rt_dim d ON t.k = d.k WHERE d.v LIKE 'dim%'""".stripMargin)
      assert(joined.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 17L))
    } finally spark.catalog.dropTempView("rt_dim")
  }

  test("aggregate pushdown: unfiltered COUNT/MIN/MAX answer from the manifest as a LocalTableScan — zero file reads") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4),
      statsColumns = Seq("n", "w"))
    tbl.create((1 to 400).map(i =>
      (i.toLong, i * 3L, s"v$i",
        java.sql.Timestamp.valueOf(f"2026-01-${i % 28 + 1}%02d 10:00:00")))
      .toDF("k", "n", "v", "w"))
    def plan(q: String) = spark.sql(q).queryExecution.executedPlan.toString
    // COUNT(*), MIN/MAX on the key and a stats column: one local row
    val q1 = s"SELECT count(*) AS c, min(k) AS mnk, max(k) AS mxk, " +
      s"min(n) AS mnn, max(n) AS mxn, count(n) AS cn FROM graft.`$dir`"
    assert(plan(q1).contains("LocalTableScan"),
      s"manifest-servable aggregates must plan a LocalTableScan:\n${plan(q1)}")
    assert(!plan(q1).contains("BatchScan"))
    val r = spark.sql(q1).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((400L, 1L, 400L, 3L, 1200L, 400L)))
    // a WHERE keeps the pushdown OFF (we re-evaluate all filters) — and
    // the answer stays exact through the ordinary scan
    val q2 = s"SELECT count(*) AS c FROM graft.`$dir` WHERE k <= 50"
    assert(!plan(q2).contains("LocalTableScan"))
    assert(spark.sql(q2).head.getLong(0) == 50)
    // an untracked column has no stats: MIN(v) refuses, normal scan answers
    val q3 = s"SELECT min(v) AS m FROM graft.`$dir`"
    assert(!plan(q3).contains("LocalTableScan"))
    assert(spark.sql(q3).head.getString(0) == "v1")
    // timestamps refuse (ms-floored stats can understate the extreme)
    assert(!plan(s"SELECT max(w) AS m FROM graft.`$dir`").contains("LocalTableScan"))
    // GROUP BY refuses
    assert(!plan(s"SELECT k % 2, count(*) FROM graft.`$dir` GROUP BY 1")
      .contains("LocalTableScan"))
    // a DV-carrying snapshot: COUNT(*) still serves exactly (masked
    // counts are manifest-recorded); MIN refuses (the vector may have
    // masked the extreme row)
    val dir2 = freshDir()
    val t2 = new SnapshotTable(spark, dir2, "k",
      clusterPartitions = Some(2), deleteVectorMaxRows = 100)
    t2.create(kv((1L to 40L).map(i => i -> s"v$i"): _*))
    t2.delete(kv(1L -> "x", 7L -> "y").select(col("k")))
    val q4 = s"SELECT count(*) AS c FROM graft.`$dir2`"
    assert(plan(q4).contains("LocalTableScan"), plan(q4))
    assert(spark.sql(q4).head.getLong(0) == 38)
    val q5 = s"SELECT min(k) AS m FROM graft.`$dir2`"
    assert(!plan(q5).contains("LocalTableScan"))
    assert(spark.sql(q5).head.getLong(0) == 2L)
    // time travel serves the pinned version's manifest arithmetic
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$dir2` VERSION AS OF 0")
      .head.getLong(0) == 40)
  }

  test("CALL graft.<verb>: SQL maintenance procedures compact, restore, retire, vacuum, and repair through the Scala ops") {
    val dir = freshDir()
    val tbl = new SnapshotTable(spark, dir, "k", clusterPartitions = Some(4))
    tbl.create(kv((1L to 200L).map(i => i -> s"v$i"): _*))
    tbl.merge(kv(201L -> "x"))
    val before = collectSorted(spark.sql(s"SELECT k, v FROM graft.`$dir`"))
    val filesBefore = tbl.read().inputFiles.length
    // pure-SQL compaction: file count drops, contents bit-identical
    val v = spark.sql(s"CALL graft.optimize(`table` => '$dir', small_bytes => ${32L << 20})")
      .head.getLong(0)
    assert(v == tbl.currentVersion.get)
    assert(tbl.history.map(_._3).last == "optimize")
    assert(tbl.read().inputFiles.length < filesBefore)
    assert(collectSorted(spark.sql(s"SELECT k, v FROM graft.`$dir`")) == before)
    // restore rolls back to the create (v0) as a NEW commit
    spark.sql(s"CALL graft.restore(`table` => '$dir', version => 0)")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").head.getLong(0) == 200)
    // retire bounds history, vacuum reclaims the compaction's orphans;
    // `kept` reports versions actually RETAINED, not the ask: asking to
    // keep more history than exists returns the history length
    val over = spark.sql(s"CALL graft.retire(`table` => '$dir', keep_last => 99)")
      .head.getInt(0)
    assert(over == tbl.history.size, s"kept=$over must be the actual history size")
    assert(spark.sql(s"CALL graft.retire(`table` => '$dir', keep_last => 1)")
      .head.getInt(0) == 1)
    val reclaimed = spark.sql(s"CALL graft.vacuum(`table` => '$dir', grace_ms => 0)")
      .head.getLong(0)
    assert(reclaimed > 0, "vacuum after retire must reclaim the unreferenced files")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").head.getLong(0) == 200)
    // repair_null_keys on a clean table is a no-op returning the current version
    val vr = spark.sql(s"CALL graft.repair_null_keys(`table` => '$dir')").head.getLong(0)
    assert(vr == tbl.currentVersion.get)
    // collect_stats backfills skipping stats as a rewrite-free commit
    val vs = spark.sql(s"CALL graft.collect_stats(`table` => '$dir', columns => 'v')")
      .head.getLong(0)
    assert(vs == tbl.currentVersion.get)
    assert(tbl.history.map(_._3).last == "stats")
    // SHOW TBLPROPERTIES serves the manifest's operational facts
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$dir`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("key") == "k")
    assert(props("rows") == "200")
    assert(props("version") == vs.toString)
    assert(props("commit.op") == "stats")
    // CALL graft.history serves the commit log as rows (DESCRIBE
    // HISTORY's moral equivalent), newest last, tags included
    val hist = spark.sql(s"CALL graft.history(`table` => '$dir')").collect()
    assert(hist.map(_.getString(2)).toSeq == tbl.history.map(_._3),
      "history rows must mirror the Scala handle's commit log")
    assert(hist.last.getLong(4) == 200, "rows column must be the logical row count")
    // unknown procedures reject loudly (Spark wraps the catalog's
    // listing message in FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception](spark.sql(s"CALL graft.compact(`table` => '$dir')"))
    assert(e.getMessage.contains("compact"))
  }
}
