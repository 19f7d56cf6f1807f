package graft.incremental

import java.util.ConcurrentModificationException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{NoopCache, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Minimal manifest-based table format: snapshot-isolated reads, an
  * ACID keyed MERGE (the reference's `INSERT … ON CONFLICT (key) DO
  * UPDATE`, etl_script_incremental_pandas.py:249-267), time travel,
  * and optimistic concurrency — over plain parquet files, no service.
  *
  * The engine's earlier state sink (a directory-swap StateStore, S7)
  * committed by swapping ONE directory: atomic and right for
  * summary-sized state, but every commit rewrites the whole table and a
  * reader holding the old files can race the swap's delete. This class
  * replaced it everywhere and is the standard next rung (the design shared by
  * Delta/Iceberg-class formats, re-derived minimally): DATA FILES ARE
  * IMMUTABLE; each commit writes only NEW files plus a versioned
  * MANIFEST listing the files that make up that snapshot, and readers
  * resolve the latest committed manifest — so a 100 TB MERGE rewrites
  * only the files whose key range the source batch touches (file-level
  * min/max pruning), never the table, and an in-flight reader keeps a
  * consistent snapshot because nothing it references is ever mutated.
  *
  * == Layout ==
  * {{{
  *   dir/data/<commit-uuid>/part-*.parquet   immutable data files
  *   dir/manifests/v<zero-padded>.json       one per committed version
  * }}}
  * A manifest is line-oriented: `#`-prefixed header (parent version,
  * operation, key column, schema JSON; on a keyed write, a `#keys`
  * line — count, then the comma-joined encoded keys the commit
  * upserted or deleted, which the change feed restricts its diff to,
  * see [[changesBetween]]; a reader that does not know a header name
  * ignores it, so an older reader of a newer table just diffs
  * unrestricted), one entry per data file
  * (relative path, row count, key kind, encoded key min/max, key null
  * count, file byte length — the writer records the length at stage
  * time so no read and no [[optimize]] ever getFileStatus per file —
  * plus one `s` line per tracked SECONDARY stats column: path,
  * column, kind, encoded min/max, null count, feeding [[readWhere]] /
  * [[countWhere]] data skipping and [[scan]] null-predicate
  * pruning; plus one `b` line per file when the handle opts into
  * `keyBloomBits` — path, bits, k, base64 bloom words; plus one `d`
  * line per file carrying a DELETION VECTOR — path, doomed-key sidecar
  * path, exact masked-row count — see `deleteVectorMaxRows`), and a
  * trailing `#commit` terminator. A manifest WITHOUT the terminator is
  * torn (writer crashed mid-write) and is ignored by readers; the next
  * writer simply claims the next free version number, so a torn commit
  * can never wedge the table.
  *
  * == Commit protocol ==
  * Stage data files first (invisible — nothing references them), then
  * claim the next version with a create-exclusive manifest write.
  * Concurrency is OPTIMISTIC, two layers:
  *   - the create-exclusive claim makes two writers racing the same
  *     version number a loud [[ConcurrentModificationException]];
  *   - BEFORE terminating its manifest, the committer scans for any
  *     version committed above its BASE (the snapshot it derived its
  *     files from): finding one means lost-update, and aborting here
  *     leaves only a torn (invisible) manifest — the common lost race
  *     exits without ever becoming reader-visible;
  *   - AFTER terminating, it re-scans with the same filter and
  *     retracts its own manifest if a racer landed in between. The
  *     filter must include versions ABOVE the writer's claim: if
  *     writer A's claim is torn while writer B (same base) claims the
  *     next number and commits, B's checks see only A's torn
  *     (invisible) manifest — so A must be the one to see B committed
  *     above it and retract. Each surviving writer terminates before
  *     its post-check, so of two racers at least one always sees the
  *     other committed — the pair can never both report success. The
  *     post-check's retraction is the one residual source of a
  *     VISIBLE-THEN-RETRACTED version (racer landing between pre-check
  *     and terminator): readers tolerate it — a vanished manifest
  *     reads as absent and resolution falls back to the previous
  *     committed version — at the documented cost that reads are
  *     snapshot-consistent but not monotonic under multi-writer races
  *     (the opt-in `monotonicReads` constructor flag gives a handle a
  *     never-resolve-below-what-I-returned floor; see latestManifest).
  *     Callers pin the base explicitly with `expectedVersion` for
  *     compare-and-swap semantics.
  * A failed/crashed commit leaves only orphaned data files (never read;
  * reclaimable by a vacuum that keeps every committed manifest's
  * reference set).
  *
  * FILESYSTEM ASSUMPTION (honesty note): the version claim delegates
  * its atomicity to the filesystem's create-exclusive (`fs.create(p,
  * overwrite = false)`). HDFS provides it; S3-style object stores
  * (without a conditional-put layer) and Hadoop's RawLocalFileSystem
  * implement it as check-then-create, where two same-version racers
  * can interleave — the same caveat every manifest-based format
  * documents (Delta delegates it to a per-store LogStore). Multi-writer
  * deployments on such stores need a coordinator in front of the claim;
  * every OTHER interleaving (torn manifests, commits above/below a
  * stale base) is handled by the protocol itself and spec-pinned.
  *
  * == MERGE ==
  * [[merge]], [[delete]] and [[applyDelta]] are one keyed write
  * ([[keyedWrite]]) with an upsert side, a delete side, or both.
  * Copy-on-write at file grain: files that cannot hold any key of the
  * source batch carry forward BY REFERENCE; touched files are read,
  * rows whose key the source replaces are anti-joined out, and
  * survivors ∪ source land as new files, range-clustered on the key
  * (`repartitionByRange`) so future merges prune tightly. Work ∝
  * touched files + batch — at 100 TB with key-clustered files
  * (time-ordered facts, week-keyed summaries) a batch touches a sliver
  * of the table. Every keyed write and [[readKeys]] starts from ONE
  * key profile ([[batchKeys]]): the batch's distinct table-typed keys,
  * collected in one job while they number at most `pruneSetCap`. The
  * per-file test then runs against that exact KEY SET (a file is
  * touched iff it can hold at least one batch key); only a key set
  * past the cap takes the uncollected route, which tests a few dozen
  * range-clustered SUB-RANGES of the set ([[keyPruner]]) so driver
  * memory stays bounded — never a single [min,max] envelope, whose
  * prune silently degrades to a full-table rewrite when one backdated
  * key in an otherwise-fresh batch widens the envelope across the key
  * domain (the late-CDC-update shape). Pruning is exact for
  * numeric/date/timestamp/string keys; other key types, and a set
  * holding an unencodable key such as NaN, degrade to "always
  * overlaps" (correct, just unpruned). Writes may ADD nullable
  * columns ([[evolveSchema]]): pre-evolution files stay untouched and
  * read the new column as null; type changes and dropped columns are
  * rejected loudly.
  */
final class SnapshotTable(spark: SparkSession, dir: String, key: String,
    clusterPartitions: Option[Int] = None, monotonicReads: Boolean = false,
    statsColumns: Seq[String] = Nil, keyBloomBits: Int = 0,
    deleteVectorMaxRows: Long = 0L) {

  /** Opt-in MERGE-ON-READ deletes (deletion-vector-lite): when > 0, a
    * keyed write whose doomed keys are few ([[delete]], and the delete
    * side of [[applyDelta]] on files no upsert key reaches) records a
    * per-file DELETION VECTOR — a parquet sidecar of doomed keys
    * referenced by a `d` manifest line — instead of rewriting the
    * carrier file (a file any upsert key reaches always rewrites).
    * Reads apply the sidecar as an anti-join; [[optimize]] materializes
    * vectors away; a file accumulating more than `deleteVectorMaxRows`
    * masked rows (or losing ALL its rows) falls back to the
    * copy-on-write rewrite. At 100 TB this turns a GDPR-style scattered forget from
    * "rewrite every carrier file" into "write a KB-sized key list" —
    * the same rung Delta-class formats call deletion vectors, re-derived
    * minimally (whole-key sidecars, not row-index bitmaps: the sidecar
    * is the delete's own key set, so no read-path row numbering is
    * needed). 0 (default) keeps every delete copy-on-write.
    *
    * PRIVACY NOTE: a vectored delete is LOGICAL — the masked bytes stay
    * in the carrier file until [[optimize]] rewrites it (and prior
    * versions reference them until retire + vacuum, like every
    * snapshot format). A right-to-be-forgotten pipeline must still run
    * the optimize/retire/vacuum sweep; vectors only defer the rewrite,
    * they never replace the reclamation ([[graft.CorpusForget]] keeps
    * its full sweep for exactly this reason). */
  require(deleteVectorMaxRows >= 0, s"deleteVectorMaxRows must be >= 0, got $deleteVectorMaxRows")

  /** Opt-in per-file KEY BLOOM ([[KeyBloom]]): when > 0, every staged
    * file records a `keyBloomBits`-bit bloom over `xxhash64(key)` in
    * the manifest (one extra agg column in the same stats pass), and
    * the exact key-set prune ([[exactKeyPruner]]) consults it — a
    * scattered point batch skips range-overlapping files that never
    * held its keys. Files without a bloom (older commits, non-bloom
    * handles) stay conservatively range-pruned only. Size for ~10 bits
    * per key per file (~1% fpp); the bits live inline in the manifest,
    * so this is for stores whose file count × bloom size fits a
    * manifest budget. */
  require(keyBloomBits == 0 || (keyBloomBits >= 64 && keyBloomBits % 64 == 0),
    s"keyBloomBits must be 0 (off) or a positive multiple of 64, got $keyBloomBits")

  /** Secondary data-skipping columns: every staged file also records
    * encoded [min,max] for these (one extra agg column pair in the
    * SAME stats pass — no extra scan), and [[readWhere]] prunes files
    * on them the way [[readRange]] prunes on the key. Files written
    * before a column was tracked (or by a handle not tracking it)
    * simply have no stats for it and stay conservatively unpruned, so
    * the setting can differ between handles and evolve over a table's
    * life without rewrites. Skipping sharpness follows the physical
    * clustering: files are key-clustered, so a stats column correlated
    * with the key (an id-derived timestamp, a monotone ingest week)
    * prunes tightly, an uncorrelated one prunes only what its natural
    * per-file spread allows — the standard column-stats contract.
    * Rewrites (merge/delete/optimize) restage through the RUNNING
    * handle's tracking config: run maintenance with the same
    * `statsColumns` to keep skipping sharp on the files it rewrites
    * (a non-tracking rewrite is still correct — just unpruned there). */
  private val statCols: Seq[String] = statsColumns.distinct.filterNot(_ == key)
  statCols.foreach(c => require(!c.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
    s"stats column name ${c} must not contain tab/newline (manifest is line-oriented)"))

  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  /** Manifest IO bypasses the checksum wrapper on local filesystems:
    * the claim-then-body-then-terminator write pattern leaves the .crc
    * sidecar inconsistent with the final manifest, so EVERY subsequent
    * open paid a logged EOFException ("Problem opening checksum file …
    * Ignoring") before falling back to the raw read — pure exception +
    * WARN-stack overhead on the hottest metadata path, plus a useless
    * .crc write per commit. Manifest integrity is the protocol's own
    * job (terminator + parse validation), not the checksum layer's;
    * data files keep going through `fs` unchanged. */
  private def metaFs: org.apache.hadoop.fs.FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }
  private def manifestDir = new Path(s"$dir/manifests")
  private def manifestPath(v: Long) = new Path(manifestDir, f"v$v%019d.json")

  /** Per-column file stats: encoded [min,max] over the NON-NULL values
    * ("num": decimal string; "str": Base64 of the UTF-8 bytes;
    * "opaque": no order stats, always overlaps) plus the file's NULL
    * count for the column when known (None on manifests written before
    * null tracking — every consumer degrades conservatively). Null
    * counts are what make manifest-served aggregates ([[countWhere]])
    * and null-predicate pruning (IsNull/IsNotNull in [[scan]]) EXACT:
    * min/max alone cannot say whether a range-contained file's rows all
    * satisfy a predicate that nulls fail. */
  private final case class ColStat(kind: String,
      min: Option[String], max: Option[String], nulls: Option[Long]) {
    /** (kind, min, max) when the column has orderable recorded bounds. */
    def range: Option[(String, String, String)] = (kind, min, max) match {
      case (k, Some(mn), Some(mx)) if k != "opaque" => Some((k, mn, mx))
      case _ => None
    }
  }

  /** One immutable data file: table-relative path + row count + the
    * KEY's [[ColStat]] (inlined on the `f` line), plus secondary stats
    * for the handle's [[statsColumns]] — serialized as `s` lines after
    * the file's `f` line, ignored by readers that do not know the
    * column. Trailing fields absent on old manifests parse as unknown
    * (None) — the format is append-only backward compatible. */
  private final case class Entry(path: String, rows: Long, kind: String,
      min: Option[String], max: Option[String],
      stats: Map[String, ColStat] = Map.empty,
      nulls: Option[Long] = None,
      bloom: Option[(Int, Int, String)] = None,
      bytes: Option[Long] = None,
      dv: Option[(String, Long)] = None) {
    def line: String = Seq("f", path, rows.toString, kind,
      min.getOrElse(""), max.getOrElse(""),
      nulls.map(_.toString).getOrElse(""),
      bytes.map(_.toString).getOrElse("")).mkString("\t")
    def statLines: Seq[String] = stats.toSeq.sortBy(_._1).map { case (c, st) =>
      Seq("s", path, c, st.kind, st.min.getOrElse(""), st.max.getOrElse(""),
        st.nulls.map(_.toString).getOrElse("")).mkString("\t")
    }
    def bloomLines: Seq[String] = bloom.toSeq.map { case (bits, k, b64) =>
      Seq("b", path, bits.toString, k.toString, b64).mkString("\t")
    }
    /** Deletion vector: sidecar path + the EXACT number of this file's
      * rows it masks (what keeps [[countRows]] manifest arithmetic).
      * The sidecar may carry keys beyond this file's (it is shared by
      * the delete commit's files) — the anti-join ignores them. */
    def dvLines: Seq[String] = dv.toSeq.map { case (p, masked) =>
      Seq("d", path, p, masked.toString).mkString("\t")
    }
    /** Rows a reader of this file actually sees. */
    def logicalRows: Long = rows - dv.map(_._2).getOrElse(0L)
  }

  /** `colmap` is the COLUMN MAPPING (logical → physical name, identity
    * entries omitted): data files always store a column under its
    * PHYSICAL name — the name the column was created with, stable for
    * the file's whole life — while the schema shows the LOGICAL name,
    * so [[renameColumn]] is a manifest-only commit and old files serve
    * the renamed column without a byte rewritten (the Delta/Iceberg
    * column-mapping rung, name-keyed). `retired` holds physical names
    * of DROPPED columns: a later add must never reuse one, or old
    * files would resurrect the dropped values under the new column.
    * `changedKeys` is a keyed write's changed-key set, [[ordEncode]]d
    * (the `#keys` header; see [[recordedKeys]]); None when the commit
    * recorded none. */
  private final case class Manifest(version: Long, parent: Long, op: String,
      schema: StructType, entries: Seq[Entry], tag: Option[String],
      keyName: Option[String] = None,
      colmap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      changedKeys: Option[Seq[String]] = None) {
    /** Physical (on-file) name of a logical column. */
    def physOf(logical: String): String = colmap.getOrElse(logical, logical)
    /** The schema as data files store it. */
    def physSchema: StructType =
      if (colmap.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = physOf(f.name))))
    /** Physical column translation for a schema that may EXTEND this
      * manifest's (write-side evolution: added columns are identity). */
    def physSchemaOf(logical: StructType): StructType =
      if (colmap.isEmpty) logical
      else StructType(logical.fields.map(f => f.copy(name = physOf(f.name))))
  }

  // ---- manifest IO ----

  private def readText(p: Path): String = {
    val in = metaFs.open(p)
    try {
      val acc = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { acc.write(buf, 0, n); n = in.read(buf) }
      new String(acc.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** All version numbers with a manifest FILE present (committed or
    * torn) — the claim counter must skip both. */
  private def allVersions: Seq[Long] = listManifests.map(_._1)

  /** ONE manifest-dir listing: (version, FileStatus) ascending. The
    * statuses ride along as the parse cache's validators — (length,
    * mtime) come back free with the listing, so cache validation costs
    * zero extra RPCs. */
  private def listManifests: Seq[(Long, org.apache.hadoop.fs.FileStatus)] = {
    manifestListings += 1
    val listed =
      if (!fs.exists(manifestDir)) Nil
      else fs.listStatus(manifestDir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.endsWith(".json"))
          scala.util.Try(n.stripPrefix("v").stripSuffix(".json").toLong)
            .toOption.map(_ -> st)
        else None
      }.sortBy(_._1)
    // retire() deletes old manifests from disk; drop their orphaned
    // cache entries when they start to dominate, so a long-lived
    // streaming handle over a retire()-maintained table stays bounded
    if (manifestCache.size > listed.size * 2 + 16) {
      val live = listed.map(_._1).toSet
      manifestCache.keySet.removeIf(v => !live(v))
    }
    listed
  }

  /** Parsed manifests by version, VALIDATED against the file's (length,
    * mtime) on every hit. Version numbers are WRITE-ONCE — a retraction
    * tombstones its manifest instead of deleting it (see [[retract]]),
    * so a number is never re-claimed with new content — which leaves
    * exactly two content transitions a cached entry can miss: torn →
    * committed (the writer appends the terminator — length grows) and
    * committed → tombstone (a retraction — length shrinks). Both change
    * the length, so every validated hit is sound. Torn results (None)
    * cache too: a crashed writer's debris is parsed once, not on every
    * resolve forever. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Option[Manifest])]()

  /** Manifest-file reads this handle has performed (cache misses +
    * direct loads) — the spec seam for the resolve-path contract: a
    * resolve on an N-version table reads O(1) manifest files, a change
    * feed over k versions reads ≤ k + 2, and a second resolve reads 0
    * (cache-served). Cumulative; specs delta it. */
  private[graft] var manifestReads: Long = 0L

  /** Manifest-DIR listings this handle has performed — the r19 seam for
    * the resolve fast path: a QUIESCENT repeated resolve costs two
    * `getFileStatus` probes and ZERO listings (the per-statement LIST
    * was the residual catalog-planning tax the r18 A/B measured).
    * Cumulative; specs delta it. */
  private[graft] var manifestListings: Long = 0L

  private def loadValidated(v: Long,
      st: org.apache.hadoop.fs.FileStatus): Option[Manifest] = {
    val hit = manifestCache.get(v)
    if (hit != null && hit._1 == st.getLen && hit._2 == st.getModificationTime) hit._3
    else {
      val m = loadManifestUncached(v)
      manifestCache.put(v, (st.getLen, st.getModificationTime, m))
      m
    }
  }

  /** Load one version through the cache, paying a single getFileStatus
    * for the validator when the caller has no fresh listing in hand. */
  private def loadManifest(v: Long): Option[Manifest] = {
    val st =
      try fs.getFileStatus(manifestPath(v))
      catch { case _: java.io.FileNotFoundException => return None }
    loadValidated(v, st)
  }

  private def loadManifestUncached(v: Long): Option[Manifest] = {
    val p = manifestPath(v)
    manifestReads += 1
    // A lost-update loser RETRACTS its manifest after terminating it
    // (see commit), so a reader racing the retraction can list a
    // version whose file vanishes before the open — treat it exactly
    // like the torn manifest it morally is (absent), instead of
    // surfacing a FileNotFoundException from inside a read.
    val lines =
      try readText(p).linesIterator.toSeq
      catch { case _: java.io.FileNotFoundException => return None }
    if (!lines.lastOption.contains("#commit")) return None // torn — ignore
    val header = lines.filter(_.startsWith("#")).map(_.split(" ", 2))
      .collect { case Array(k, value) => k -> value }.toMap
    def optNulls(f: Array[String], i: Int): Option[Long] =
      if (f.length > i && f(i).nonEmpty) scala.util.Try(f(i).toLong).toOption else None
    val statsByPath = lines.filter(_.startsWith("s\t")).map { l =>
      val f = l.split("\t", -1)
      f(1) -> (f(2) -> ColStat(f(3), Some(f(4)).filter(_.nonEmpty),
        Some(f(5)).filter(_.nonEmpty), optNulls(f, 6)))
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toMap }
    val bloomByPath = lines.filter(_.startsWith("b\t")).map { l =>
      val f = l.split("\t", -1)
      f(1) -> ((f(2).toInt, f(3).toInt, f(4)))
    }.toMap
    val dvByPath = lines.filter(_.startsWith("d\t")).map { l =>
      val f = l.split("\t", -1)
      f(1) -> ((f(2), f(3).toLong))
    }.toMap
    val entries = lines.filter(_.startsWith("f\t")).map { l =>
      val f = l.split("\t", -1)
      Entry(f(1), f(2).toLong, f(3),
        Some(f(4)).filter(_.nonEmpty), Some(f(5)).filter(_.nonEmpty),
        statsByPath.getOrElse(f(1), Map.empty), optNulls(f, 6),
        bloomByPath.get(f(1)),
        bytes = optNulls(f, 7), // file byte length: trailing field, absent on old manifests
        dv = dvByPath.get(f(1)))
    }
    // header mapping encodings: names ride Base64 (a column name may
    // hold spaces/commas/equals; the manifest is line-oriented)
    def b64d(s: String) = new String(
      java.util.Base64.getDecoder.decode(s), "UTF-8")
    val colmap = header.get("#colmap").map(_.split(",").map { p =>
      val Array(l, ph) = p.split(":", 2) // ':' is outside the Base64 alphabet
      b64d(l) -> b64d(ph)
    }.toMap).getOrElse(Map.empty)
    val retired = header.get("#retired")
      .map(_.split(",").toSeq.map(b64d)).getOrElse(Nil)
    // `#keys <count> <enc,enc,...>`: a count that disagrees with the
    // list reads as no record (the feed then diffs unrestricted)
    val changedKeys = header.get("#keys").flatMap { h =>
      val (n, list) = h.span(_ != ' ')
      n.toIntOption.flatMap { c =>
        val ks = if (c == 0) Nil else list.drop(1).split(",", -1).toSeq
        Option(ks).filter(_.size == c)
      }
    }
    Some(Manifest(v, header("#parent").toLong, header("#op"),
      DataType.fromJson(header("#schema")).asInstanceOf[StructType], entries,
      header.get("#tag"), header.get("#key"), colmap, retired, changedKeys))
  }

  /** The full committed chain, oldest first — for the callers that
    * genuinely need ALL of history (history/vacuum/retire). Cache-served
    * after the first pass; resolve-shaped callers must use
    * [[newestCommitted]] instead, which stops after O(1) loads. */
  private def committedManifests: Seq[Manifest] =
    listManifests.flatMap { case (v, st) => loadValidated(v, st) }

  /** The last FULL resolve's result with its file validator (length,
    * mtime) — [[newestCommitted]]'s zero-listing fast path. */
  @volatile private var lastResolved: Option[(Manifest, Long, Long)] = None

  /** The newest committed manifest. FAST PATH (r19): if the last full
    * resolve's manifest file is UNCHANGED (same length + mtime — the
    * same validator the parse cache trusts; version numbers are
    * write-once, and both possible content transitions, torn→committed
    * and committed→tombstone, change the length) AND no file exists at
    * the NEXT version number (every later commit must first claim
    * version+1 — the claim counter keys off the highest file present),
    * the previous result still IS the newest committed manifest: two
    * `getFileStatus` probes, zero listings, zero manifest reads. On
    * object storage this removes the per-statement LIST that was the
    * r18 catalog route's residual planning tax; any file change above
    * or at the pin (a landing commit, an in-flight claim, torn debris,
    * a retraction) falls through to the full listing resolve.
    *
    * FULL PATH: one listing plus O(1) manifest reads — walk versions
    * DESCENDING and stop at the first `#commit`-terminated file, never
    * load the whole history just to take its last element. The
    * versions skipped on the way down are torn claims (rare debris);
    * on a long-lived store with thousands of retained versions this is
    * the difference between a resolve being one small file read and
    * O(versions × manifest bytes) driver parsing on EVERY read, write,
    * and streaming trigger. */
  private def newestCommitted: Option[Manifest] = {
    val fast = lastResolved.filter { case (m, len, mtime) =>
      val unchanged =
        try {
          val st = fs.getFileStatus(manifestPath(m.version))
          st.getLen == len && st.getModificationTime == mtime
        } catch { case _: java.io.FileNotFoundException => false }
      unchanged && !fs.exists(manifestPath(m.version + 1))
    }
    if (fast.isDefined) fast.map(_._1)
    else {
      val resolved = listManifests.reverseIterator
        .map { case (v, st) => (loadValidated(v, st), st) }
        .collectFirst { case (Some(m), st) =>
          (m, st.getLen, st.getModificationTime) }
      lastResolved = resolved
      resolved.map(_._1)
    }
  }

  /** The last manifest this handle resolved — the `monotonicReads`
    * floor ([[latestManifest]]). */
  private var lastSeen: Option[Manifest] = None

  /** The newest committed manifest, resolved in ONE listing pass — the
    * resolve-then-load callers need so a retraction racing between
    * "what is the current version?" and "load it" degrades to reading
    * the previous committed version (still a consistent snapshot)
    * instead of throwing. NOTE the documented residual: a reader can
    * still OBSERVE a version that a racing loser subsequently retracts
    * (a racer landing between commit's pre-terminate check and its
    * terminator write forces the post-check retraction), so two
    * successive resolves may go v6 → v5 while the interleaving
    * settles — reads are snapshot-consistent, not monotonic, under
    * multi-writer races.
    *
    * `monotonicReads = true` closes that from the READER side: the
    * handle never resolves below the version it last returned — when a
    * fresh listing comes back LOWER (a racing loser's retraction
    * settling, or history trimmed under the reader), the handle serves
    * its cached manifest instead, so two successive resolves are
    * at-worst "stale but monotonic", never v6 → v5. Per-HANDLE
    * session semantics (the cache is this instance's), and bounded by
    * the vacuum grace window: a retracted version's files are orphans,
    * so a handle floored on one must re-resolve (any commit landing
    * releases the floor forward) before an aggressive vacuum reclaims
    * them — the floor is for the seconds-wide retraction race, not
    * long-term version pinning. */
  private def latestManifest: Option[Manifest] = {
    val fresh = newestCommitted
    if (!monotonicReads) fresh
    else this.synchronized {
      val pick = (fresh, lastSeen) match {
        case (Some(f), Some(seen)) if f.version < seen.version => lastSeen
        case (None, Some(_)) => lastSeen
        case _ => fresh
      }
      lastSeen = pick
      pick
    }
  }

  private def requireManifest: Manifest = latestManifest.getOrElse(
    throw new IllegalStateException(s"no snapshot table at $dir"))

  /** One-pass resolve for the mutating entry points (merge / delete /
    * applyDelta): the manifest the write derives from, with the CAS
    * check against it — replacing the old resolve-version-then-load
    * pair, which both listed twice and NPE'd if the resolved version's
    * manifest was retracted between the two listings. */
  private def resolveForWrite(expectedVersion: Option[Long]): Manifest = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"no snapshot table at $dir — create() first"))
    expectedVersion.filter(_ != m.version).foreach(v =>
      throw new ConcurrentModificationException(
        s"table at $dir is at version ${m.version}, caller expected $v"))
    m
  }

  /** Latest committed version, if the table exists. */
  def currentVersion: Option[Long] = latestManifest.map(_.version)

  def exists: Boolean = currentVersion.isDefined

  /** Committed versions strictly above `base` — the commit protocol's
    * interloper check, loading only the (usually zero) manifests the
    * check can possibly care about. */
  private def committedVersionsAbove(base: Long): Seq[Long] =
    listManifests.filter(_._1 > base)
      .collect { case (v, st) if loadValidated(v, st).isDefined => v }

  /** Newest COMMITTED version ≤ `v`, if any. Committed version numbers
    * can have PERMANENT GAPS — a crashed writer's torn manifest claims
    * a number that never commits and is never cleaned — so a consumer
    * deriving a target version arithmetically (a rate-limited change
    * feed capping its next interval at `seen + maxVersions`) must
    * resolve the cap onto the commit log with this, or it can aim at a
    * version that does not exist and wedge retrying it. */
  def committedVersionAtOrBelow(v: Long): Option[Long] =
    listManifests.reverseIterator
      .collectFirst { case (ver, st) if ver <= v && loadValidated(ver, st).isDefined => ver }

  /** Oldest committed version still on disk — the retention fence a
    * change-feed consumer checks its cursor against: a cursor below
    * this means [[retire]] outran the consumer and the intermediate
    * history it needs is gone. */
  def oldestCommittedVersion: Option[Long] =
    listManifests.iterator
      .collectFirst { case (v, st) if loadValidated(v, st).isDefined => v }

  /** The change feed's next offer after `offered`, rate-capped at
    * `maxVersions` and resolved onto the COMMIT LOG (this runs on EVERY
    * streaming trigger): the newest committed version when it sits
    * within the window — [[newestCommitted]], so an idle trigger costs
    * two `getFileStatus` probes and no listing; else, from one
    * manifest-dir listing, the largest committed version inside the
    * window, or the next committed version above `offered` when
    * torn-claim gaps swallow the whole window (gaps are not commits, and
    * the feed must still advance one commit). Returned as (offer, head):
    * the newest committed version the offer resolved rides along, so a
    * trigger that also reports the table's head resolves it once. None
    * when the table has no committed version. The offer may be ≤
    * `offered` (nothing new); callers must not regress their cursor. */
  def nextFeedOffer(offered: Long, maxVersions: Long): Option[(Long, Long)] = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    newestCommitted.map(_.version).map { newest =>
      // versions are non-negative, so newest - offered cannot overflow
      // and an unbounded (Long.MaxValue) window always takes the newest
      if (newest - offered <= maxVersions) (newest, newest)
      else {
        val above = listManifests.iterator
          .collect { case (v, st) if v > offered && loadValidated(v, st).isDefined => v }
          .buffered
        val next = above.head // non-empty: newest is committed and above offered
        (above.takeWhile(_ - offered <= maxVersions).foldLeft(next)((_, v) => v), newest)
      }
    }
  }

  /** (version, parent, operation, n_files, n_rows) per committed
    * version, oldest first — the table's audit trail. `n_rows` is the
    * version's LOGICAL row count (deletion vectors applied), matching
    * what [[read]]/[[countRows]] serve at that version — a vectored
    * delete shows its row drop in history exactly like a copy-on-write
    * one. */
  def history: Seq[(Long, Long, String, Int, Long)] =
    committedManifests.map(m =>
      (m.version, m.parent, m.op, m.entries.size, m.entries.map(_.logicalRows).sum))

  // ---- snapshot reads ----

  /** The latest committed snapshot — the same plan as [[scan]], so a
    * pushed filter on `read()` prunes manifest files too. */
  def read(): DataFrame = scanAt(None)

  /** The current snapshot's schema — one manifest resolve, zero data
    * files opened (the manifest header carries the schema JSON; callers
    * that only need the shape must not pay for a read plan). */
  def schema: StructType = requireManifest.schema

  /** [[schema]] pinned to a committed historical version — manifest
    * header only, zero data files opened (what a time-travel catalog
    * resolution needs before any read plan exists). */
  def schemaAt(version: Option[Long]): StructType = manifestAt(version).schema

  /** The key column name RECORDED in the newest committed manifest's
    * `#key` header — what lets a catalog construct a working handle
    * from the table PATH alone, with no side-channel config. None on
    * tables whose manifests predate the header (every commit since has
    * written it) or when no committed version exists. */
  def recordedKey: Option[String] = latestManifest.flatMap(_.keyName)

  /** The key column this handle is keyed on. */
  def keyColumn: String = key

  /** The table directory this handle addresses. */
  def location: String = dir

  /** The relative data-file paths committed version `v` references —
    * test/soak seam for asserting copy-on-write carry-forward (how many
    * of version a's files version b kept by reference). */
  private[graft] def filesAt(v: Long): Seq[String] =
    loadManifest(v).map(_.entries.map(_.path)).getOrElse(Nil)

  /** Time travel: the exact file set version `v` committed. Data files
    * are immutable and commits never delete, so any committed version
    * stays readable (and an in-flight reader of v is unaffected by
    * later commits). */
  def readVersion(v: Long): DataFrame = scanAt(Some(v))

  /** Key-range read with MANIFEST-level file pruning: only data files
    * whose key [min,max] range can intersect [lo, hi] are handed to
    * the scan — one driver-side manifest read decides, so at 100 TB a
    * narrow range OPENS a handful of files instead of footer-reading
    * the whole table (parquet row-group stats prune within a file;
    * this prunes the files themselves — the read-side twin of the
    * merge's copy-on-write pruning). Bounds are inclusive; None leaves
    * that side unbounded. The exact key predicate is applied on top,
    * so rows outside the range in a boundary-overlapping file are
    * filtered (and the scan sees a pushable filter for its row
    * groups). */
  def readRange(lo: Option[Any], hi: Option[Any]): DataFrame = readWhere(key, lo, hi)

  /** Backfill secondary [min,max] stats onto the CURRENT snapshot's
    * files WITHOUT rewriting them — retroactive [[readWhere]] adoption
    * for a table that predates its tracking (at 100 TB: one stats scan
    * instead of a full rewrite). One distributed pass over ONLY the
    * files missing some requested column, then a rewrite-free `stats`
    * commit referencing the SAME data files with enriched entries.
    * Zero file churn means the change feed sees nothing and a mirror
    * sync across it advances tag-only — no special-casing needed,
    * unlike `optimize`. Stats already present are kept, not
    * recomputed. Returns the new version, or the current one when
    * every file already covers every requested column. */
  def collectStats(columns: Seq[String] = statsColumns): Long = {
    val m = requireManifest
    val cols = columns.distinct.filterNot(_ == key).filter(c =>
      m.schema.fieldNames.contains(c) && kindOf(m.schema(c).dataType) != "opaque")
    require(cols.nonEmpty,
      s"no encodable non-key columns among ${columns.mkString(", ")} to collect stats for")
    // a file needs collection when a requested column has NO stats, or
    // stats WITHOUT a null count (written before null tracking) — the
    // retrofit must deliver countWhere/IsNull exactness, not just bounds.
    // Deletion-vectored files sit out: their per-file grouping needs the
    // raw read (a masked read's anti-join blanks input_file_name) and
    // physical stats over masked rows would overclaim — optimize()
    // restages them with fresh stats anyway.
    val todo = m.entries.filter(e => e.dv.isEmpty &&
      cols.exists(c => e.stats.get(m.physOf(c)).forall(_.nulls.isEmpty)))
    if (todo.isEmpty) return m.version
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"__c$i"), min(col(c)).as(s"__n$i"),
        max(col(c)).as(s"__x$i")) }
    val rows = readEntriesRaw(m, m.schema, todo)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    def canon(p: String): String = fs.makeQualified(new Path(p)).toUri.getPath
    val relByCanon = todo.map(e => canon(s"$dir/${e.path}") -> e).toMap
    val collected: Map[String, Map[String, ColStat]] =
      rows.flatMap { r =>
        relByCanon.get(new Path(new java.net.URI(r.getString(0))).toUri.getPath).map { e =>
          e.path -> cols.zipWithIndex.flatMap { case (c, i) =>
            colStatAt(r, 1 + 3 * i, e.rows, kindOf(m.schema(c).dataType)).map(m.physOf(c) -> _)
          }.toMap
        }
      }.toMap
    // existing NULL-COUNTED stats win (equally valid, never recomputed);
    // a null-less pre-upgrade stat is superseded by its fresh collection
    val enriched = m.entries.map { e =>
      val fresh = collected.getOrElse(e.path, Map.empty)
      e.copy(stats = fresh ++
        e.stats.filter { case (c, st) => st.nulls.isDefined || !fresh.contains(c) })
    }
    commit(m.version, "stats", m.schema, enriched, m.tag.getOrElse(""),
      m.colmap, m.retired)
  }

  /** DATA-SKIPPING read on a SECONDARY column: manifest-level file
    * pruning against the per-file [min,max] this handle's
    * [[statsColumns]] recorded at write time — the non-key twin of
    * [[readRange]], for the predicates a key-organized table otherwise
    * answers with a full scan ("documents ingested this week" on a
    * doc_id-keyed corpus). One driver-side manifest pass decides which
    * files can intersect [lo, hi]; files with no stats for the column
    * (written before it was tracked, or by a non-tracking handle) are
    * conservatively kept, so correctness never depends on stats
    * coverage. The exact predicate is applied on top (pushed into the
    * scan's row groups). The key column prunes on its `f`-line bounds
    * ([[readRange]]). Skipping sharpness follows the key clustering —
    * see the [[statsColumns]] note. */
  def readWhere(column: String, lo: Option[Any], hi: Option[Any]): DataFrame = {
    val m = requireManifest
    require(m.schema.fieldNames.contains(column),
      s"no column $column in table schema ${m.schema.fieldNames.mkString(", ")}")
    val df = readEntries(m, survivors(m, m.entries, between(m.physOf(column), lo, hi)))
    val bounded = lo.map(l => col(column) >= lit(l)).toSeq ++
      hi.map(h => col(column) <= lit(h))
    bounded.reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  /** Exact row count of the current snapshot served ENTIRELY from the
    * manifest (per-file counts recorded at stage time) — zero data files
    * opened. At 100 TB, `COUNT(*)` is driver-side arithmetic. */
  def countRows(): Long = requireManifest.entries.map(_.logicalRows).sum

  /** The current snapshot's largest key, decoded from the manifest's
    * per-file key stats with zero files opened — the MAX rule of
    * [[serveAggregate]]. Where the manifest cannot prove it (a file
    * without key stats, a deletion vector, a timestamp key), the
    * [[boundsOf]] scan of the candidate files answers. None on an empty
    * snapshot. */
  def keyMax(): Option[Any] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Max}
    val m = requireManifest
    val max = new Aggregation(
      Array[AggregateFunc](new Max(Expressions.column(key))), Array.empty[Expression])
    Option(serveAggregate(Some(m.version), max) match {
      case Some(Seq(v)) => CatalystTypeConverters.convertToScala(v, m.schema(key).dataType)
      case _ => boundsOf(key).head().get(1)
    })
  }

  /** Files [[countWhere]] had to open on its most recent call — spec
    * seam for asserting manifest-served coverage. -1 until called. */
  private[graft] var lastCountScanned: Int = -1

  /** MANIFEST-SERVED range count: `COUNT(rows with column ∈ [lo, hi])`
    * (nulls never match; both bounds None counts the column's non-null
    * rows, i.e. `COUNT(column)`). Each file is classified off its
    * recorded stats: DISJOINT from the range contributes 0, fully
    * CONTAINED contributes `rows − nulls` from the manifest alone, and
    * only BOUNDARY-overlapping files (or files with no usable stats)
    * are actually scanned — so a clustered-range count at 100 TB is
    * driver arithmetic plus a scan of the two edge files. This is why
    * stats carry NULL counts: min/max alone cannot turn "contained"
    * into an exact count when null rows (which fail every range
    * predicate) may hide in the file. `column == key` uses the key
    * stats; any other column uses [[statsColumns]] stats when present,
    * conservative scan otherwise. */
  def countWhere(column: String, lo: Option[Any], hi: Option[Any]): Long = {
    val m = requireManifest
    require(m.schema.fieldNames.contains(column),
      s"no column $column in table schema ${m.schema.fieldNames.mkString(", ")}")
    val (loE, hiE) = (lo.flatMap(ordEncode), hi.flatMap(ordEncode))
    // a bound that does not encode (e.g. NaN) leaves containment
    // unprovable; disjointness stays sound (the prover keeps on it)
    val encodable = lo.forall(_ => loE.isDefined) && hi.forall(_ => hiE.isDefined)
    // timestamp encodings FLOOR to the millisecond, so equal encodings
    // do not prove order between sub-ms values: "contained" (counted
    // without a scan) then needs STRICT encoded inequality — an
    // equal-encoding edge file goes to the boundary scan instead.
    // Every other kind encodes exactly and keeps the inclusive test.
    // (Disjointness uses strict comparisons already — floor-safe.)
    val exactEnc = m.schema(column).dataType match {
      case TimestampType | TimestampNTZType => false
      case _ => true
    }
    def contained(k: String, fMin: String, fMax: String): Boolean =
      if (exactEnc)
        loE.forall(l => !ordLt(k, fMin, l)) && hiE.forall(h => !ordLt(k, h, fMax))
      else
        loE.forall(l => ordLt(k, l, fMin)) && hiE.forall(h => ordLt(k, fMax, h))
    val phys = m.physOf(column)
    // the unbounded count is COUNT(column): an all-null file proves 0
    val preds = between(phys, lo, hi) match {
      case Nil => Seq(sources.IsNotNull(phys))
      case ps => ps
    }
    var served = 0L
    val toScan = Seq.newBuilder[Entry]
    // a deletion vector only REMOVES rows, so disjointness still proves
    // 0 — but "contained" can no longer be served from the manifest
    // (masked rows would count); the scan applies the DV
    survivors(m, m.entries, preds).foreach { e =>
      statOf(m, e, phys) match {
        case Some(st @ ColStat(_, _, _, Some(n))) if encodable && e.dv.isEmpty &&
            st.range.exists { case (k, fMin, fMax) => contained(k, fMin, fMax) } =>
          served += e.rows - n
        case _ => toScan += e
      }
    }
    val need = toScan.result()
    lastCountScanned = need.size
    served + (if (need.isEmpty) 0L
    else {
      val pred = (lo.map(l => col(column) >= lit(l)).toSeq ++
        hi.map(h => col(column) <= lit(h)))
        .reduceOption(_ && _).getOrElse(col(column).isNotNull)
      readEntries(m, need).filter(pred).count()
    })
  }

  /** Files [[boundsOf]] had to open on its most recent call — spec seam
    * for asserting extreme-candidate pruning. -1 until called. */
  private[graft] var lastBoundsScanned: Int = -1

  /** MANIFEST-PRUNED MIN/MAX of a column: the true minimum can only
    * live in a file whose recorded encoded min TIES the global encoded
    * minimum (the encoding is monotone: enc(a) < enc(b) implies a < b,
    * so a file with a strictly larger encoded min provably holds no
    * smaller value), and symmetrically for the maximum — so ONE scan
    * over just the candidate extreme files answers exactly, with no
    * decode round-trip (timestamp stats are ms-floored; deciding
    * candidacy in the encoded domain keeps sub-ms data exact where a
    * decoded manifest value would not be). Files with no stats for the
    * column are conservative candidates for both ends; provably
    * all-null files hold no extreme and are skipped. At 100 TB,
    * MIN/MAX opens the two extreme files. Returns a 1-row (min, max)
    * DataFrame named `<column>_min` / `<column>_max` (null when every
    * row is null or the table is empty). */
  def boundsOf(column: String): DataFrame = {
    val m = requireManifest
    require(m.schema.fieldNames.contains(column),
      s"no column $column in table schema ${m.schema.fieldNames.mkString(", ")}")
    val phys = m.physOf(column)
    // split: files with orderable bounds / provably all-null / unknown.
    // A deletion-vectored file's recorded extreme may be masked, so it
    // neither votes in the election nor gets skipped — always a scan
    // candidate (readEntries applies its vector); except a physically
    // all-null file, which stays all-null under any deletion.
    val bounded = m.entries.flatMap(e => statOf(m, e, phys).flatMap(_.range) match {
      case Some((k, mn, mx)) if e.dv.isEmpty => Some((e, k, mn, mx))
      case _ => None
    })
    val unknown = m.entries.filter(e => statOf(m, e, phys) match {
      case Some(ColStat(_, None, None, Some(n))) if n == e.rows => false // all-null
      case Some(st) if st.range.isDefined => e.dv.isDefined
      case _ => true
    })
    val candidates: Seq[Entry] =
      if (bounded.isEmpty) unknown
      else {
        val kind = bounded.head._2
        val gMin = bounded.map(_._3).reduce((a, b) => if (ordLt(kind, a, b)) a else b)
        val gMax = bounded.map(_._4).reduce((a, b) => if (ordLt(kind, b, a)) a else b)
        (bounded.collect { case (e, _, mn, mx) if mn == gMin || mx == gMax => e } ++
          unknown).distinct
      }
    lastBoundsScanned = candidates.size
    readEntries(m, candidates)
      .agg(min(col(column)).as(s"${column}_min"), max(col(column)).as(s"${column}_max"))
  }

  /** Row-level CHANGE FEED between two committed versions — what an
    * incremental consumer of the table (a trainer re-tokenizing only
    * new documents, a downstream sync) reads instead of diffing whole
    * snapshots. Returns the `to` schema plus a `_change` column:
    * `added` rows exist in `to` but not `from`, `removed` the reverse;
    * an UPDATE surfaces as its removed/added pair (join the two sides
    * on the key for key-grain semantics).
    *
    * The diff is ONE shuffle by the key that nets each distinct row's
    * count (after − before): the multiset diff two `exceptAll`s would
    * compute at a shuffle of both sides each. Its COST ∝ THE KEYS THE
    * INTERVAL'S COMMITS CHANGED, through three exact cuts before it:
    *   - PATH CANCELLATION: data files are immutable and carry between
    *     versions by (path, deletion vector), so entries both ends of a
    *     segment reference cancel without being read.
    *   - OPTIMIZE DECOMPOSITION: [[optimize]] rewrites untouched mass
    *     into new paths (content-identical by construction), so the
    *     interval splits at every `optimize` commit, each segment
    *     path-diffs on its own, and the per-segment churn unions into
    *     one before/after pair. A sync across routine compaction reads
    *     the merges' churn, never the compacted mass; the global net
    *     count still cancels rows that net out across segments
    *     (inserted in one commit, deleted in a later one) — exactly the
    *     endpoint multiset diff.
    *   - KEY RESTRICTION: under copy-on-write a segment's churn is every
    *     file its writes touched, and survivor rows are copied verbatim.
    *     A keyed write records the keys it upserted or deleted (the
    *     `#keys` header), so a key outside a segment's recorded union
    *     reads identically on both sides, and both sides are cut to that
    *     union by an `In` on the key (which the file index prunes on too)
    *     before the diff: the shuffle is ∝ changed rows, not ∝ rewritten
    *     files. A commit whose entries equal its parent's (tag, rename,
    *     add-column, widen) adds no key. A segment holding any other
    *     commit without a record diffs unrestricted: create, overwrite,
    *     append, restore, repair, a key set past `pruneSetCap` or the
    *     inline cap, a key kind the stats encoding does not hold
    *     exactly, a manifest written before the header.
    * Decomposition and restriction need every manifest in the interval;
    * if intermediates were retired the feed falls back to the plain
    * endpoint diff (correct, possibly compaction-priced). A `restore`
    * is a REAL logical change and is never skipped — its file
    * re-references diff like any commit.
    *
    * Copy-on-write rewrites untouched survivor ROWS into new files;
    * the row-level net count cancels those exactly (a moved-but-
    * identical row is not a change). Multiset semantics: a duplicated
    * full row removed once reports exactly one removal. Works across
    * add-nullable-column evolution — both sides read with the `to`
    * schema, pre-evolution files yielding null for added columns. */
  def changesBetween(from: Long, to: Long): DataFrame = {
    require(from <= to, s"changesBetween wants from <= to, got $from > $to")
    val (segments, toM) = changeScanSegments(from, to)
    // every side reads with the TO manifest's schema AND column mapping:
    // physical names are rename-stable, so files from any version in the
    // interval serve the feed under the newest logical names — a pure
    // rename commit changes no entry and feeds ZERO rows
    def side(pick: ChangeSegment => Seq[Entry]): DataFrame =
      segments.filter(s => s.before.nonEmpty || s.after.nonEmpty).map { seg =>
        val rows = readEntries(toM, toM.schema, pick(seg))
        seg.keys.fold(rows)(ks => rows.where(col(key).isin(ks: _*)))
      }.reduceOption(_ unionByName _)
        .getOrElse(readEntries(toM, toM.schema, Nil))
    val after = side(_.after)
    // ONE shuffle, by the key: each distinct row's net count (after −
    // before) is the multiset diff both `exceptAll`s would compute at a
    // shuffle of both sides each; a row then repeats |count| times. The
    // output stays partitioned by the key, so [[changesKeyed]]'s join
    // on it shuffles nothing more.
    side(_.before).withColumn("__n", lit(-1L)).unionByName(after.withColumn("__n", lit(1L)))
      .repartition(col(key))
      .groupBy(after.columns.map(col).toIndexedSeq: _*).agg(sum(col("__n")).as("__n"))
      .where(col("__n") =!= 0)
      .withColumn("_change", when(col("__n") > 0, "added").otherwise("removed"))
      .withColumn("__n", explode(array_repeat(lit(0), abs(col("__n")).cast("int"))))
      .drop("__n")
  }

  /** The relative data-file paths [[changesBetween]] would scan for the
    * interval, both sides flattened, and each segment's key restriction
    * (None: unrestricted) — the spec seam for asserting a compaction's
    * outputs never enter the feed's scan, and which keys it is cut to. */
  private[graft] def changeScanPaths(from: Long,
      to: Long): (Seq[String], Seq[String], Seq[Option[Set[Any]]]) = {
    val (segments, _) = changeScanSegments(from, to)
    (segments.flatMap(_.before.map(_.path)), segments.flatMap(_.after.map(_.path)),
      segments.map(_.keys.map(_.toSet)))
  }

  /** One [[changesBetween]] segment: the entries only its start
    * references, those only its end references, and the key values
    * (typed as the `to` key) both sides are cut to — None when some
    * commit in it recorded no changed-key set. */
  private final case class ChangeSegment(before: Seq[Entry], after: Seq[Entry],
      keys: Option[Seq[Any]])

  /** The [[ChangeSegment]]s [[changesBetween]] scans, plus the read
    * schema's manifest (`to`'s). Segments are delimited by `optimize`
    * commits (see [[changesBetween]]); one unrestricted endpoint-diff
    * segment when intermediates are missing. */
  private def changeScanSegments(from: Long, to: Long): (Seq[ChangeSegment], Manifest) = {
    val a = loadManifest(from).getOrElse(
      throw new IllegalStateException(s"no committed version $from at $dir"))
    val b = loadManifest(to).getOrElse(
      throw new IllegalStateException(s"no committed version $to at $dir"))
    // entry identity = (path, deletion vector): a merge-on-read delete
    // changes a file's LOGICAL content without changing its path, so a
    // DV'd entry diffs against its pre-DV self — both sides read masked,
    // and the diff nets out to exactly the freshly masked rows
    def id(x: Entry): (String, Option[String]) = (x.path, x.dv.map(_._1))
    def ids(m: Manifest): Set[(String, Option[String])] = m.entries.map(id).toSet
    val keyType = b.schema(key).dataType
    def churn(s: Manifest, e: Manifest, keys: Option[Set[String]]): ChangeSegment = {
      val typed = keys.flatMap { ks =>
        val vs = ks.toSeq.flatMap(ordDecode(_, keyType))
        Option(vs).filter(_.size == ks.size)
      }
      if (typed.exists(_.isEmpty)) ChangeSegment(Nil, Nil, typed)
      else {
        val (sIds, eIds) = (ids(s), ids(e))
        ChangeSegment(s.entries.filterNot(x => eIds(id(x))),
          e.entries.filterNot(x => sIds(id(x))), typed)
      }
    }
    // the keys commit `c` changed over its parent `p`: none when it
    // references exactly `p`'s entries, else its record (if any)
    def changed(p: Manifest, c: Manifest): Option[Set[String]] =
      if (ids(p) == ids(c)) Some(Set.empty) else c.changedKeys.map(_.toSet)
    // every committed manifest in [from, to]; decomposition needs a
    // contiguous parent chain (retire() can only trim a PREFIX of
    // history, but verify anyway — a gap falls back to the endpoint diff)
    val chain = listManifests.filter { case (v, _) => v >= from && v <= to }
      .flatMap { case (v, st) => loadValidated(v, st) }.toIndexedSeq
    val contiguous = chain.nonEmpty && chain.head.version == from &&
      chain.last.version == to &&
      chain.sliding(2).forall {
        case Seq(p, c) => c.parent == p.version
        case _ => true
      }
    val segments =
      if (!contiguous) Seq(churn(a, b, None))
      else {
        // a segment runs from the chain head or an optimize commit to
        // the commit before the next optimize (or the chain's end)
        val starts = 0 +: chain.indices.tail.filter(chain(_).op == "optimize")
        val ends = starts.tail.map(_ - 1) :+ (chain.size - 1)
        starts.zip(ends).filter { case (s, e) => e > s }.map { case (s, e) =>
          val keys = (s + 1 to e).foldLeft(Option(Set.empty[String])) { (acc, i) =>
            for (u <- acc; k <- changed(chain(i - 1), chain(i))) yield u ++ k
          }
          churn(chain(s), chain(e), keys)
        }
      }
    (segments, b)
  }

  /** KEY-GRAIN change feed: [[changesBetween]] folded to ONE row per
    * changed key with a `_change_type` column — `insert` (post-image),
    * `update` (post-image; the removed/added pair collapsed), `delete`
    * (pre-image) — the CDC shape a downstream consumer applies without
    * doing its own pair-matching. Every mirror applies it through
    * [[SnapshotSync.applyFeed]]: the batch [[SnapshotSync.sync]] and, as
    * the `graft-snapshot` stream source's micro-batches, the `cdc`-mode
    * sink. Its cost is the row feed's one shuffle: the full-outer join
    * of the added and removed rows on the key shuffles nothing more,
    * because the row feed comes out partitioned by the key. Wherever
    * the interval recorded its changed keys, that shuffle carries only
    * the changed keys' rows; an interval holding an unrecorded commit
    * pays its whole churn (see [[changesBetween]]).
    * CONTRACT: assumes key-unique snapshots — what merge/delete/
    * applyDelta maintain; a table fed duplicate keys via create/append
    * reports those keys at row grain fidelity lost. */
  def changesKeyed(from: Long, to: Long): DataFrame = {
    val feed = changesBetween(from, to)
    val added = feed.filter(col("_change") === "added").drop("_change")
    val removed = feed.filter(col("_change") === "removed").drop("_change")
    // ONE full-outer join on the key classifies every changed key and
    // picks its image in the same pass: post-image when an added row
    // exists (insert/update), pre-image otherwise (delete)
    val aS = added.select(col(key), struct(added.columns.map(col): _*).as("_a"))
    val rS = removed.select(col(key), struct(removed.columns.map(col): _*).as("_r"))
    aS.join(rS, Seq(key), "full_outer")
      .select(
        coalesce(col("_a"), col("_r")).as("_img"),
        when(col("_a").isNotNull && col("_r").isNotNull, "update")
          .when(col("_a").isNotNull, "insert")
          .otherwise("delete").as("_change_type"))
      .select(col("_img.*"), col("_change_type"))
  }

  /** [[changesBetween]] addressed by APPLICATION tags — "everything
    * that changed since the publication tagged W" without the caller
    * tracking version numbers. */
  def changesBetweenTags(fromTag: String, toTag: String): DataFrame =
    changesBetween(
      versionForTag(fromTag).getOrElse(throw new IllegalStateException(
        s"no committed version tagged $fromTag at $dir")),
      versionForTag(toTag).getOrElse(throw new IllegalStateException(
        s"no committed version tagged $toTag at $dir")))

  /** Keyed POINT-LOOKUP read with manifest-level file pruning: only
    * data files that can hold at least one requested key are handed to
    * the scan (the keys take [[delete]]'s one profile, [[batchKeys]],
    * and its prune — the read-side twin of the sparse-batch
    * copy-on-write), then an exact semi-join keeps the requested rows:
    * against the collected keys as a local frame (no shuffle), or, for
    * a key set past `pruneSetCap`, against the keys' `distinct`.
    * "Fetch these doc_ids" at 100 TB opens the handful of files whose
    * key range holds them — even when the ids are scattered across the
    * whole key domain, where the single-envelope [[readRange]] would
    * open nearly everything. */
  def readKeys(keys: DataFrame): DataFrame = {
    val m = requireManifest
    require(keys.schema.fieldNames.contains(key),
      s"readKeys frame must carry the table key column $key")
    val keyType = m.schema(key).dataType
    val ks = keys.select(col(key))
    batchKeys(None, Some(ks), keyType) match {
      case Some(b) => readEntries(m, m.entries.filter(exactKeyPruner(b.keys, keyType)))
        .join(localKeyFrame(b.keys, keyType), Seq(key), "left_semi")
      case None => readEntries(m, m.entries.filter(keyPruner(ks, keyType)))
        .join(ks.distinct(), Seq(key), "left_semi")
    }
  }

  /** CATALYST-INTEGRATED scan: the snapshot exposed through a custom
    * [[org.apache.spark.sql.execution.datasources.FileIndex]] whose
    * `listFiles` applies MANIFEST pruning to whatever data filters the
    * planner pushes down — so ANY query predicate on the key or a
    * stats-covered column file-skips automatically, with no
    * readRange/readWhere call: `tbl.scan().filter($"week" >= X)` prunes
    * exactly like the dedicated readers, and so does a predicate
    * Catalyst DERIVES (constant-folded, pushed through joins). This is
    * the same integration point Delta-class formats use (a
    * manifest-backed FileIndex under a standard parquet
    * HadoopFsRelation): Spark's own parquet reader, row-group
    * pushdown, and whole-stage codegen all apply unchanged — the
    * manifest only decides WHICH files exist. Unsupported or complex
    * predicates simply skip nothing (conservative), and Spark
    * re-evaluates every filter on the rows regardless, so pruning can
    * never change results. The returned frame is pinned to the CURRENT
    * snapshot (immutable files + one manifest read), like every other
    * read, and is the same plan as [[read]]: both go through
    * [[readEntries]], where deletion-vectored files read through their
    * sidecar anti-join beside the clean ones (pushed filters prune
    * both). */
  def scan(): DataFrame = scanAt(None)

  /** [[scan]] pinned to a committed historical version — the DataFrame
    * twin of the format provider's `versionAsOf` option, deletion
    * vectors applied at every version. */
  def scanAt(version: Option[Long]): DataFrame = {
    val m = manifestAt(version)
    readEntries(m, m.entries)
  }

  private def manifestAt(version: Option[Long]): Manifest =
    version.fold(requireManifest)(v => loadManifest(v).getOrElse(
      throw new IllegalStateException(s"no committed version $v at $dir")))

  /** The [[scan]] snapshot as a bare `BaseRelation` — what the BATCH
    * half of the format provider (`format("graft-snapshot")`, see
    * [[org.apache.spark.sql.graft.SnapshotTableProvider]]) hands to
    * Spark's DataSource resolution, giving SQL-only users the same
    * manifest-pruned relation without writing a line of Scala.
    *
    * A DV-free snapshot returns the file-backed `HadoopFsRelation`
    * directly (planner-integrated file pruning, parquet row groups,
    * whole-stage codegen). A snapshot CARRYING deletion vectors cannot
    * be one file-backed node — the vectored files need their sidecar
    * anti-join spliced in — so it returns a [[GraftMaskedRelation]]
    * instead: a `PrunedFilteredScan` whose inner plan is the masked
    * [[scan]] (manifest pruning via the translated pushed filters,
    * parquet codegen inside, the anti-join on the vectored residue).
    * SQL readers keep working the moment a table opts into
    * `deleteVectorMaxRows` — the rows they see are identical to
    * [[scan]]'s, the clean-file fast path merely returns after the next
    * [[optimize]] repays the vector debt. Deleted rows are NEVER
    * resurrected on any route.
    *
    * `version` pins the relation to a committed historical version —
    * time travel through the format provider's `versionAsOf` /
    * `timestampAsOf` options. */
  def scanRelation(version: Option[Long] = None): org.apache.spark.sql.sources.BaseRelation = {
    val m = manifestAt(version)
    // deletion vectors need their anti-join spliced in; a column-mapped
    // snapshot needs its logical aliases — neither fits one bare
    // file-backed node, so both take the masked-relation fallback
    if (m.entries.exists(_.dv.isDefined) || m.colmap.nonEmpty)
      new GraftMaskedRelation(spark, () => readEntries(m, m.entries))()
    else relationOf(m, m.schema, m.entries)
  }

  /** THE scan planner for manifest entries: a parquet relation over
    * the entries' [[indexOf]] — no listing job, whatever the file count.
    * It plans the PHYSICAL twin of `schema` (so pushed filters speak the
    * prover's names; a column the files predate reads null), all
    * nullable as in any parquet read: a legacy file may hold null keys
    * the schema promises away. */
  private def relationOf(m: Manifest, schema: StructType,
      entries: Seq[Entry]): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    HadoopFsRelation(indexOf(m, entries), StructType(Nil),
      org.apache.spark.sql.graft.GraftSqlShim.asNullable(m.physSchemaOf(schema)), None,
      new ParquetFileFormat(), Map.empty[String, String])(spark)
  }

  /** THE file index over manifest entries, behind every read route —
    * [[relationOf]]'s relations and the catalog's columnar scan: a
    * [[GraftFileIndex]] of [[statusOf]] FileStatuses that prunes with
    * [[disjoint]] against PHYSICAL-name filters and records each kept
    * count in [[lastListedFiles]]. */
  private def indexOf(m: Manifest, entries: Seq[Entry]): GraftFileIndex = {
    val files = entries.map(e => e -> statusOf(e))
    new GraftFileIndex(spark, new Path(dir), files.map(_._2), { filters =>
      val kept = files.collect { case (e, st) if !filters.exists(disjoint(_, m, e)) => st }
      lastListedFiles = kept.size
      kept
    })
  }

  /** An entry's FileStatus from its manifest-recorded byte length —
    * driver arithmetic, no RPC (mtime is unused: the parquet read plans
    * off length + path only). Entries from pre-length manifests degrade
    * to one getFileStatus each, counted in [[statusLookups]]. */
  private def statusOf(e: Entry): org.apache.hadoop.fs.FileStatus = e.bytes match {
    case Some(len) =>
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 134217728L, 0L,
        fs.makeQualified(new Path(s"$dir/${e.path}")))
    case None =>
      statusLookups += 1
      fs.getFileStatus(new Path(s"$dir/${e.path}"))
  }

  /** What the NATIVE DSv2 columnar batch scan needs besides the
    * snapshot's [[indexOf]], or None when this snapshot cannot be served
    * by a bare parquet scan (it carries deletion vectors — their sidecar
    * anti-join needs the masked relation route). The scan narrows the
    * index by its pushed and runtime filters, so the catalog's columnar
    * rung prunes files through the same index as every other read. */
  private[graft] def batchScanParts(version: Option[Long]): Option[SnapshotTable.BatchParts] = {
    val m = manifestAt(version)
    if (m.entries.exists(_.dv.isDefined)) return None
    // columns a filter can prune files on: the key (bounded on every
    // `f` line) plus any column some entry carries stats for —
    // advertised to Spark's runtime-filtering rule in LOGICAL names
    val physToLogical = m.schema.fieldNames.map(l => m.physOf(l) -> l).toMap
    val prunable = (Seq(key) ++
      m.entries.flatMap(_.stats.keys).distinct.flatMap(physToLogical.get)).distinct
    Some(SnapshotTable.BatchParts(indexOf(m, m.entries), m.physSchema, m.colmap, prunable))
  }

  /** Operational facts about a resolved snapshot, from manifest
    * arithmetic alone — what the SQL catalog surfaces as table
    * properties (`DESCRIBE EXTENDED` / `SHOW TBLPROPERTIES`). */
  private[graft] def describeAt(version: Option[Long]): Seq[(String, String)] = {
    val m = manifestAt(version)
    Seq(
      "version" -> m.version.toString,
      "commit.op" -> m.op,
      "files" -> m.entries.size.toString,
      "rows" -> m.entries.map(_.logicalRows).sum.toString,
      "bytes" -> m.entries.flatMap(_.bytes).sum.toString,
      "deletion.vectors" -> m.entries.count(_.dv.isDefined).toString) ++
      m.tag.map("commit.tag" -> _) ++
      (if (m.colmap.isEmpty) Nil
       else Seq("column.mapping" -> m.colmap.toSeq.sorted
         .map { case (l, p) => s"$l->$p" }.mkString(",")))
  }

  /** MANIFEST-SERVED AGGREGATES for DSv2 aggregate pushdown: the
    * catalyst values (one per aggregate expression, in order) when this
    * snapshot can answer the UNFILTERED, UNGROUPED aggregation from
    * manifest stats ALONE — `SELECT count(*) FROM graft.`…`` at 100 TB
    * becomes driver arithmetic plus a LocalTableScan, zero tasks, zero
    * file reads. None refuses the pushdown (the normal scan answers).
    *
    * Served exactly or not at all:
    *   - COUNT(*): Σ per-file logical rows — exact on EVERY snapshot,
    *     deletion vectors included (their masked counts are recorded).
    *   - COUNT(col): Σ (rows − recorded null count) — needs every entry
    *     to carry the column's null count, and no DVs (a masked row's
    *     null-ness is unrecorded).
    *   - MIN/MAX(col): the extreme of the per-file encoded bounds,
    *     decoded — needs every entry bounded on the column (or provably
    *     all-null), no DVs (a vector may have masked the extreme row),
    *     and a kind whose encoding decodes EXACTLY: integers and dates
    *     (decimal strings), float/double (toString round-trip), strings
    *     (base64 of the bytes). TIMESTAMPS are refused — their stats
    *     are ms-FLOORED, so the decoded extreme could understate by up
    *     to a millisecond.
    * DISTINCT and GROUP BY always refuse (not manifest-derivable). */
  private[graft] def serveAggregate(version: Option[Long],
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[Any]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions.nonEmpty) return None
    val m = manifestAt(version)
    val anyDv = m.entries.exists(_.dv.isDefined)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
          m.schema.fieldNames.contains(nr.fieldNames.head) => Some(nr.fieldNames.head)
        case _ => None
      }
    def statsOf(e: Entry, logical: String): Option[ColStat] =
      statOf(m, e, m.physOf(logical))
    def decode(enc: String, dt: DataType): Option[Any] = dt match {
      case ByteType => Some(BigDecimal(enc).toByte)
      case ShortType => Some(BigDecimal(enc).toShort)
      case IntegerType => Some(BigDecimal(enc).toInt)
      case LongType => Some(BigDecimal(enc).toLong)
      case DateType => Some(BigDecimal(enc).toInt)
      case FloatType => Some(java.lang.Float.parseFloat(enc))
      case DoubleType => Some(java.lang.Double.parseDouble(enc))
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String
        .fromBytes(java.util.Base64.getDecoder.decode(enc)))
      case _ => None // timestamps (ms-floored stats), everything else
    }
    def extreme(logical: String, wantMin: Boolean): Option[Any] = {
      if (anyDv) return None
      val dt = m.schema(logical).dataType
      if (dt == TimestampType || dt == TimestampNTZType) return None
      var best: Option[(String, String)] = None // (kind, enc)
      m.entries.foreach { e =>
        statsOf(e, logical).flatMap(_.range) match {
          case Some((k, mn, mx)) =>
            val cand = if (wantMin) mn else mx
            best = best match {
              case Some((bk, b)) =>
                val better = if (wantMin) ordLt(bk, cand, b) else ordLt(bk, b, cand)
                if (better) Some((k, cand)) else best
              case None => Some((k, cand))
            }
          case None =>
            // provably all-null contributes nothing; anything else is
            // an unknowable extreme — refuse
            if (!statsOf(e, logical).exists(_.nulls.contains(e.rows))) return None
        }
      }
      best match {
        case Some((_, enc)) => decode(enc, dt) // None (undecodable) refuses
        case None => Some(null) // empty table / all-null column: SQL NULL
      }
    }
    val values = agg.aggregateExpressions.map {
      case _: CountStar => Some(m.entries.map(_.logicalRows).sum)
      case c: Count if !c.isDistinct =>
        colOf(c.column).flatMap { l =>
          if (anyDv) None
          else {
            val perFile = m.entries.map(e => statsOf(e, l).flatMap(_.nulls).map(n => e.rows - n))
            if (perFile.forall(_.isDefined)) Some(perFile.flatten.sum) else None
          }
        }
      case mn: Min => colOf(mn.column).flatMap(l => extreme(l, wantMin = true))
      case mx: Max => colOf(mx.column).flatMap(l => extreme(l, wantMin = false))
      case _ => None
    }
    if (values.forall(_.isDefined)) Some(values.toSeq.map(_.get)) else None
  }

  /** THE per-file stats view: one column's [[ColStat]] for one
    * manifest entry, by PHYSICAL name — the key's ride its `f` line,
    * every other column's an `s` line. Pruning, manifest-served counts,
    * the extreme-file election and served aggregates all read here. */
  private def statOf(m: Manifest, e: Entry, phys: String): Option[ColStat] =
    if (phys == m.physOf(key)) Some(ColStat(e.kind, e.min, e.max, e.nulls))
    else e.stats.get(phys)

  /** `lo <= phys <= hi` as source filters; a None side is unbounded. */
  private def between(phys: String, lo: Option[Any], hi: Option[Any]): Seq[sources.Filter] =
    lo.map(sources.GreaterThanOrEqual(phys, _)).toSeq ++ hi.map(sources.LessThanOrEqual(phys, _))

  /** The entries no filter proves [[disjoint]] — the manifest file
    * prune of the readers that pick their entries before planning
    * (readRange, readWhere, countWhere). */
  private def survivors(m: Manifest, entries: Seq[Entry],
      filters: Seq[sources.Filter]): Seq[Entry] =
    entries.filter(e => !filters.exists(disjoint(_, m, e)))

  /** THE pruning proof, shared by every read route ([[indexOf]]'s file
    * index — every planned read, the catalog's columnar scan and its
    * runtime re-prune included — and readRange, readWhere,
    * countWhere): true only when `f` PROVES no row of entry
    * `e` can satisfy it, off the entry's encoded [min,max] and null
    * counts ([[statOf]]). Attribute names are PHYSICAL. Literals encode
    * through [[ordEncode]] — timestamps floor to the millisecond the
    * stats were encoded at, and every comparison is strict, so sub-ms
    * literals stay conservative. Anything unprovable keeps the file:
    * every caller applies the exact predicate to the rows, so pruning
    * never changes a result. */
  private def disjoint(f: sources.Filter, m: Manifest, e: Entry): Boolean = {
    import org.apache.spark.sql.sources._
    def stat(a: String): Option[ColStat] = statOf(m, e, a)
    def nullsOf(a: String): Option[Long] = stat(a).flatMap(_.nulls)
    // an all-null file records a null count but no bounds: no VALUE
    // comparison can match it
    def allNull(a: String): Boolean = nullsOf(a).contains(e.rows)
    // file max < v (no row can be >= v); all-null columns prove too
    def maxBelow(a: String, v: Any): Boolean = allNull(a) ||
      stat(a).flatMap(_.range).exists { case (k, _, mx) =>
        ordEncode(v).exists(lo => ordLt(k, mx, lo)) }
    // file min > v (no row can be <= v)
    def minAbove(a: String, v: Any): Boolean = allNull(a) ||
      stat(a).flatMap(_.range).exists { case (k, mn, _) =>
        ordEncode(v).exists(hi => ordLt(k, hi, mn)) }
    f match {
      case And(l, r) => disjoint(l, m, e) || disjoint(r, m, e)
      case Or(l, r) => disjoint(l, m, e) && disjoint(r, m, e)
      // null predicates prove from the recorded NULL COUNT alone; an
      // unknown count (old manifest) proves nothing
      case IsNull(a) => nullsOf(a).contains(0L)
      case IsNotNull(a) => allNull(a)
      // null-safe equality: a null literal matches exactly the null
      // rows, a non-null one exactly what EqualTo matches
      case EqualNullSafe(a, null) => nullsOf(a).contains(0L)
      case EqualNullSafe(a, v) => maxBelow(a, v) || minAbove(a, v)
      case EqualTo(a, v) if v != null => maxBelow(a, v) || minAbove(a, v)
      case GreaterThan(a, v) => maxBelow(a, v) // conservative: > proves via >=
      case GreaterThanOrEqual(a, v) => maxBelow(a, v)
      case LessThan(a, v) => minAbove(a, v)
      case LessThanOrEqual(a, v) => minAbove(a, v)
      case In(a, vs) if vs.nonEmpty =>
        vs.forall(v => v != null && (maxBelow(a, v) || minAbove(a, v)))
      // prefix P on a string column: every match sits >= P in byte
      // order, so fileMax < P is disjoint; and when fileMin > P WITHOUT
      // carrying P as a prefix, the first differing byte sits inside
      // P's length and exceeds it, putting fileMin above every match
      case StringStartsWith(a, p) => allNull(a) ||
        stat(a).flatMap(_.range).exists { case (kind, mnB64, mxB64) =>
          kind == "str" && {
            val dec = java.util.Base64.getDecoder
            val pb = p.getBytes("UTF-8")
            val mn = dec.decode(mnB64); val mx = dec.decode(mxB64)
            def lt(x: Array[Byte], y: Array[Byte]) =
              java.util.Arrays.compareUnsigned(x, y) < 0
            def hasPrefix(x: Array[Byte]) = x.length >= pb.length &&
              java.util.Arrays.equals(x, 0, pb.length, pb, 0, pb.length)
            lt(mx, pb) || (lt(pb, mn) && !hasPrefix(mn))
          }
        }
      case _ => false
    }
  }

  /** Files the planner's pushed filters kept on the most recent
    * `listFiles` of any index this handle built — whichever read
    * planned last (a [[scan]], a [[read]], or a write's internal read);
    * the pruning spec seam. -1 until a read plans. */
  @volatile private[graft] var lastListedFiles: Int = -1

  /** Entries this handle had to getFileStatus because their manifest
    * predates byte-length tracking — spec seam: stays 0 on a freshly
    * written table whatever reads, writes or optimizes. Cumulative;
    * specs delta it. */
  private[graft] var statusLookups: Long = 0L

  /** Entries as their LOGICAL rows: files carrying a deletion vector
    * read through an anti-join against their sidecar's keys (grouped by
    * sidecar — co-committed files share one, and a doomed key is doomed
    * table-wide, so applying the shared sidecar to every member file is
    * exact). DV-free entries read directly. Every reader ([[read]] and
    * [[scan]] included), the change feed's sides, and every
    * copy-on-write survivor computation come through here, so
    * merge-on-read correctness is one code path, and every file set is
    * planned by [[relationOf]]. */
  private def readEntries(m: Manifest, schema: StructType,
      entries: Seq[Entry]): DataFrame = {
    val (dvd, clean) = entries.partition(_.dv.isDefined)
    val base = readEntriesRaw(m, schema, clean)
    if (dvd.isEmpty) base
    else dvd.groupBy(_.dv.get._1).map { case (dvPath, es) =>
      // toDF(key): the sidecar's single column is the key under
      // whatever name it carried at delete time
      val doomed = spark.read.parquet(s"$dir/$dvPath").toDF(key)
      readEntriesRaw(m, schema, es).join(doomed, Seq(key), "left_anti")
    }.foldLeft(base)(_ unionByName _)
  }

  private def readEntries(m: Manifest, entries: Seq[Entry]): DataFrame =
    readEntries(m, m.schema, entries)

  /** Entries as their PHYSICAL rows — deletion vectors NOT applied —
    * through the manifest-planned [[relationOf]]. Callers outside
    * [[readEntries]] are the paths that must see raw files: per-file
    * stats collection (grouping by input_file_name, which a join would
    * break — and which excludes DV'd files anyway) and the DV delete's
    * own matched-count pass. */
  private def readEntriesRaw(m: Manifest, schema: StructType,
      entries: Seq[Entry]): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      // files store PHYSICAL names (stable across renames): the relation
      // plans the physical twin of the requested schema; alias back to
      // the logical names — Catalyst rewrites pushed predicates through
      // the aliases, so pruning and row-group pushdown see physical names
      val raw = spark.baseRelationToDataFrame(relationOf(m, schema, entries))
      if (m.colmap.isEmpty) raw else raw.toDF(schema.fieldNames.toIndexedSeq: _*)
    }

  // ---- key stats: canonical encode / ordered compare ----

  private def kindOf(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => "num"
    case _: DecimalType => "num"
    case StringType => "str"
    case _ => "opaque"
  }

  /** THE canonical order encoding — of collected stats values and of
    * every literal a pruning proof compares against them (pushed filter
    * values arrive as the same JVM types): a plain
    * decimal string for the "num" kind (dates → epoch day, timestamps →
    * epoch micros — exact, unlike lexicographic ISO strings), Base64
    * UTF-8 for "str" (binary-collation order, matching Spark's default
    * string comparison). None (→ no stats) for anything unencodable,
    * e.g. NaN — conservatively unpruned. */
  private def ordEncode(v: Any): Option[String] = v match {
    case null => None
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay).toString)
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay).toString)
    // millisecond floor — for EVERY timestamp representation: monotone,
    // so pruning stays conservative for sub-ms-distinct values
    // (enc(a) < enc(b) ⇒ a < b), and uniform, so a bound passed as an
    // Instant (java8 datetime API) compares against Timestamp-collected
    // stats in the SAME floored domain — an unfloored Instant encoding
    // could sit above a floored file max that truly covers it, wrongly
    // pruning the file
    case t: java.sql.Timestamp => Some(BigDecimal(t.getTime * 1000L).toString)
    case t: java.time.Instant =>
      // nano/1e6 = whole ms within the (always non-negative) nano-of-
      // second field, so this floors toward -inf for negative epochs too
      Some((BigDecimal(t.getEpochSecond) * 1000000 +
        (t.getNano / 1000000) * 1000).toString)
    case t: java.time.LocalDateTime =>
      ordEncode(t.toInstant(java.time.ZoneOffset.UTC))
    case s: String => Some(java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))
    case n: java.lang.Number =>
      scala.util.Try(BigDecimal(n.toString).toString).toOption
    case _ => None
  }

  /** [[ordEncode]]'s inverse for a [[SnapshotTable.recordable]] key
    * type: the value typed as `dt` (dates as `LocalDate`); None for an
    * encoding that does not fit `dt` or any other type. */
  private def ordDecode(enc: String, dt: DataType): Option[Any] = scala.util.Try(dt match {
    case ByteType => BigDecimal(enc).toByteExact
    case ShortType => BigDecimal(enc).toShortExact
    case IntegerType => BigDecimal(enc).toIntExact
    case LongType => BigDecimal(enc).toLongExact
    case DateType => java.time.LocalDate.ofEpochDay(BigDecimal(enc).toLongExact)
    case StringType => new String(java.util.Base64.getDecoder.decode(enc), "UTF-8")
  }).toOption

  private def ordLt(kind: String, a: String, b: String): Boolean = kind match {
    case "num" => BigDecimal(a) < BigDecimal(b)
    case "str" =>
      // unsigned compare of the UTF-8 BYTES — the order Spark's
      // UTF8String min/max stats were computed under. Decoding to a JVM
      // String and using '<' would compare UTF-16 code units, which
      // disagrees with UTF-8 byte order for supplementary characters
      // (U+FF01 sorts above U+1F600 in UTF-16 but below it in UTF-8),
      // so pruning could skip a file that truly overlaps.
      val dec = java.util.Base64.getDecoder
      java.util.Arrays.compareUnsigned(dec.decode(a), dec.decode(b)) < 0
    case _ => false
  }

  /** [[batchKeys]]'s collect cap — past it a key set takes the
    * uncollected route. Settable, so a spec can force that route
    * without a 100k-key batch. */
  private[graft] var pruneSetCap: Long = 100000L
  private val pruneRangeBuckets = 64

  /** `keys`' key column normalized to the table's key type — the one
    * form the profile, the sub-range pruner and the over-cap doomed set
    * take. The stats encodings AND the bloom hashes were computed over
    * table-typed values, so an Int-typed batch against a Long-keyed
    * table must compare (and hash) as Longs. Null keys are dropped (an
    * anti- or semi-join never matches one), and so is a cross-typed key
    * its cast changes (1.5 against a Long key): the coerced join the
    * caller's frame would run never matches it either. */
  private def tableKeys(keys: DataFrame, keyType: DataType): DataFrame = {
    val typed = col(key).cast(keyType)
    val kept = if (keys.schema(key).dataType == keyType) col(key).isNotNull else typed === col(key)
    keys.where(kept).select(typed.as(key))
  }

  /** SUB-RANGE prune for a key set past [[pruneSetCap]] — the
    * uncollected route of [[keyedWrite]] and [[readKeys]]:
    * [[pruneRangeBuckets]] range-clustered sub-ranges of the distinct
    * keys (one shuffle of the bare keys + a bucket-count collect); a
    * file is touched iff it overlaps some sub-range. Between-key gaps
    * WITHIN a bucket are the only imprecision, and a batch that big
    * rewrites proportionally anyway. An opaque key kind or an
    * unencodable bound (e.g. NaN) degrades the whole test to "touch
    * everything" — conservative, matching the stats contract. */
  private def keyPruner(keys: DataFrame,
      tableKeyType: DataType): Entry => Boolean = {
    val kind = kindOf(tableKeyType)
    if (kind == "opaque") return _ => true
    // [lo, hi] sub-ranges of the batch's key set, encoded — disjoint by
    // construction (blooms are point tests and do not apply to ranges)
    val enc: Array[(Option[String], Option[String])] =
      tableKeys(keys, tableKeyType).distinct()
        .repartitionByRange(pruneRangeBuckets, col(key))
        .groupBy(org.apache.spark.sql.functions.spark_partition_id())
        .agg(min(col(key)).as("mn"), max(col(key)).as("mx"))
        .collect().map(r => (ordEncode(r.get(1)), ordEncode(r.get(2))))
    if (enc.exists(p => p._1.isEmpty || p._2.isEmpty)) return _ => true
    val ranges = enc.map(p => (p._1.get, p._2.get))
      .sortWith((a, b) => ordLt(kind, a._1, b._1))
    val los = ranges.map(_._1)
    val his = ranges.map(_._2)
    e => (e.kind, e.min, e.max) match {
      case ("opaque", _, _) => true
      case (k, Some(fMin), Some(fMax)) =>
        // touched ⇔ ∃ range: lo ≤ fMax ∧ hi ≥ fMin. Ranges are disjoint
        // and sorted, so hi is sorted too: binary-search the first range
        // with hi ≥ fMin, then one lo ≤ fMax check decides.
        var lo = 0; var hi = ranges.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ordLt(k, his(mid), fMin)) lo = mid + 1 else hi = mid
        }
        lo < ranges.length && !ordLt(k, fMax, los(lo))
      case _ => true
    }
  }

  /** EXACT prune over a collected (distinct, non-null, table-typed)
    * key set: a file is touched iff at least one key falls inside its
    * [min,max] — EXACT, so an adversarial batch of two keys at opposite
    * ends of the key domain (a late CDC update, a mixed-age forget)
    * touches exactly the two files holding those keys, not everything
    * between them — and, when the file carries a key bloom, iff the
    * bloom also says one of those in-range keys may be present (a
    * range-overlapping file that never held the batch's keys prunes
    * here; range stats alone cannot). A set of an opaque key kind, or
    * holding an unencodable key (e.g. NaN), is unprunable: every file
    * is touched. */
  private def exactKeyPruner(keys: Array[Any],
      tableKeyType: DataType): Entry => Boolean = {
    if (keys.isEmpty) return _ => false
    val kind = kindOf(tableKeyType)
    if (kind == "opaque") return _ => true
    val pts = keys.flatMap(v => ordEncode(v).map(e => (e, v)))
    if (pts.length < keys.length) return _ => true
    val sorted = pts.sortWith((a, b) => ordLt(kind, a._1, b._1))
    val encs = sorted.map(_._1)
    lazy val hashes = sorted.map(p => KeyBloom.hashOf(p._2, tableKeyType))
    e => (e.kind, e.min, e.max) match {
      case ("opaque", _, _) => true
      case (k, Some(fMin), Some(fMax)) =>
        // first batch key with enc >= fMin (keys sorted, distinct)
        var lo = 0; var hi = encs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ordLt(k, encs(mid), fMin)) lo = mid + 1 else hi = mid
        }
        if (lo >= encs.length || ordLt(k, fMax, encs(lo))) false
        else e.bloom match {
          case Some((bits, kHashes, b64)) =>
            val words = KeyBloom.decode(b64)
            var i = lo; var hit = false
            while (!hit && i < encs.length && !ordLt(k, fMax, encs(i))) {
              if (KeyBloom.contains(words, bits, kHashes, hashes(i))) hit = true
              i += 1
            }
            hit
          case None => true
        }
      case _ => true
    }
  }

  /** THE key profile of every keyed operation — [[keyedWrite]]'s upsert
    * and delete sides (either may be absent) and [[readKeys]]' keys (a
    * delete side only). ONE `groupBy(key)` job (guide §5: every
    * separate action is a full driver round-trip — plan, codegen,
    * schedule, collect) gathers the distinct table-typed keys with
    * their upsert multiplicity, and serves everything the caller would
    * otherwise pay SEPARATE jobs for — the key-uniqueness guard
    * (`upRows` vs the distinct `upKeys`), the touched-file pruner
    * ([[exactKeyPruner]] over `keys`), the deletion-vector split
    * (`upKeys`), the doomed sidecar key set (`delOnly`), and the
    * anti-/semi-join build side ([[localKeyFrame]] over `keys`). `None`
    * ⇔ the distinct key set overflows [[pruneSetCap]]: the caller then
    * runs its uncollected route (value-identical, just more
    * round-trips; big batches amortize them), which keeps driver
    * memory bounded. */
  private final case class BatchKeys(upRows: Long, keys: Array[Any],
      upKeys: Array[Any], delOnly: Array[Any])

  private def batchKeys(up: Option[DataFrame], del: Option[DataFrame],
      tableKeyType: DataType): Option[BatchKeys] = {
    // the upsert side is table-typed already ([[evolveSchema]] rejects
    // a key type change) and keeps its null keys: the uniqueness guard
    // counts a null-keyed row, but never as a distinct key
    val tagged = (up.map(_.select(col(key), lit(1L).as("__up"))) ++
      del.map(tableKeys(_, tableKeyType).withColumn("__up", lit(0L))))
      .reduce(_ unionByName _)
    val g = tagged.groupBy(col(key)).agg(sum(col("__up")).as("__c"))
      .limit(pruneSetCap.toInt + 1).collect()
    if (g.length > pruneSetCap) return None
    var upRows = 0L
    val keys = Array.newBuilder[Any]
    val upKeys = Array.newBuilder[Any]
    val delOnly = Array.newBuilder[Any]
    g.foreach { r =>
      val v = r.get(0)
      val c = r.getLong(1)
      upRows += c
      if (v != null) {
        keys += v
        if (c > 0) upKeys += v else delOnly += v
      }
    }
    Some(BatchKeys(upRows, keys.result(), upKeys.result(), delOnly.result()))
  }

  /** A keyed write's changed-key set as its manifest records it (the
    * `#keys` header the change feed restricts to): the batch's distinct
    * keys, [[ordEncode]]d, when the key kind encodes EXACTLY (integral,
    * date and string keys — a timestamp floors to the millisecond) and
    * the set holds at most [[SnapshotTable.RecordedKeysMax]] keys. None
    * otherwise: the commit records nothing and every feed over it diffs
    * unrestricted. */
  private def recordedKeys(keys: Array[Any], keyType: DataType): Option[Seq[String]] =
    if (!SnapshotTable.recordable(keyType) || keys.length > SnapshotTable.RecordedKeysMax) None
    else Some(keys.toSeq.flatMap(ordEncode)).filter(_.size == keys.length)

  /** The collected exact key set as a LocalRelation-backed frame — the
    * anti-join build side / DV sidecar source / [[readKeys]] semi-join
    * build side WITHOUT re-running the batch subtree (its cache-read +
    * distinct shuffle broadcast stages) in every pass that consumes
    * it; a LocalTableScan broadcast builds
    * on the driver with zero stages. Bounded by [[pruneSetCap]] rows of
    * bare keys. Dropping null keys is anti-join/semi-join-invariant:
    * a null right-side key never equals anything. */
  private def localKeyFrame(vals: Array[Any], keyType: DataType): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vals.map(v => org.apache.spark.sql.Row(v)): _*),
      StructType(Seq(StructField(key, keyType))))

  // ---- staging data files ----

  /** Write `df` as a new immutable file set and return its entries with
    * per-FILE key min/max — gathered in one distributed pass over the
    * fresh files (`groupBy(input_file_name())`), the no-commit-message
    * analogue of a writer-side stats collector. */
  private def stage(df: DataFrame,
      colmap: Map[String, String] = Map.empty): Seq[Entry] = {
    // PROVABLY-EMPTY fast path (guide §5 driver hygiene): a frame whose
    // plan cannot produce rows (empty LocalRelation / LIMIT 0 under
    // row-preserving operators) stages zero files — skipping the range
    // sampling, write, and stats jobs an empty `CREATE TABLE` /
    // `create(df.limit(0))` otherwise pays three Spark jobs for. The
    // result is identical by construction: the write of an empty frame
    // produced no part files and the stats pass returned zero entries.
    if (SnapshotTable.provablyEmpty(df)) return Nil
    val rel = s"data/${java.util.UUID.randomUUID().toString}"
    val out = new Path(s"$dir/$rel")
    // files store PHYSICAL names: alias the logical frame before the
    // write (a pure projection), so a rename never forks the on-disk
    // layout — every file of a table speaks one naming forever
    def phys(c: String) = colmap.getOrElse(c, c)
    val pf =
      if (colmap.isEmpty) df
      else df.select(df.columns.toIndexedSeq.map(c => col(c).as(phys(c))): _*)
    val kind = kindOf(df.schema(key).dataType)
    // secondary stats ride the SAME per-file aggregate — columns the
    // frame carries whose type encodes record [min,max]; every tracked
    // present column records its null count (count(col) = non-nulls —
    // free in the same pass, and what makes countWhere/IsNull exact).
    // Tracking config is LOGICAL names; the recorded stats map keys are
    // PHYSICAL (stable across renames — lookups translate)
    val present = statCols.filter(c =>
      df.schema.fieldNames.contains(c) && kindOf(df.schema(c).dataType) != "opaque")

    // ---- INLINE write-time stats (guide §1.2/§6: one data pass per
    // commit). The per-file aggregate rides the write job itself as an
    // observed metric keyed by the write task's partition id
    // ([[FileStats]]); the V1 parquet writer emits exactly one
    // `part-<pid>-…` file per non-empty task here (no partitionBy, no
    // maxRecordsPerFile), so partition stats ARE file stats — verified
    // against the directory listing below, with the r19 read-back pass
    // as the fallback whenever the 1:1 mapping does not hold.
    var obs: Option[org.apache.spark.sql.Observation] = None
    val toWrite =
      if (!inlineStats) pf
      else {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.XxHash64
        var pidCol = "__graft_stage_pid"
        while (pf.columns.contains(pidCol)) pidCol += "_"
        def attr(n: String) = UnresolvedAttribute.quoted(n)
        val children = Seq(attr(pidCol), attr(phys(key))) ++
          present.map(c => attr(phys(c))) ++
          (if (keyBloomBits > 0)
            // the same xxhash64(key) column (seed 42) BloomAgg consumed
            Seq(XxHash64(Seq(attr(phys(key))), 42L))
          else Nil)
        val orderableFlags = (df.schema(key).dataType +:
          present.map(df.schema(_).dataType))
          .map(kindOf(_) != "opaque").toIndexedSeq
        val o = org.apache.spark.sql.Observation(
          s"graft-stage-${java.util.UUID.randomUUID()}")
        obs = Some(o)
        pf.withColumn(pidCol, spark_partition_id())
          .observe(o, org.apache.spark.sql.graft.GraftSqlShim.column(
            FileStats(children, orderableFlags, keyBloomBits)
              .toAggregateExpression()).as("stats"))
          .drop(pidCol)
      }
    toWrite.write.mode("error").parquet(out.toString)
    // byte lengths ride the manifest `f` line: ONE listing of the fresh
    // commit dir (the writer is the one party that knows its files),
    // so every read builds FileStatus and optimize() partitions small files
    // from driver arithmetic — never a per-file getFileStatus RPC
    val lenByName: Map[String, Long] =
      fs.listStatus(out).map(s => s.getPath.getName -> s.getLen).toMap
    val entries = obs.flatMap(inlineEntries(_, rel, kind, present, lenByName,
        c => phys(c), df.schema))
      .getOrElse(readBackEntries(pf.schema, rel, out, kind, present, lenByName,
        c => phys(c), df.schema))
    entries.map { e =>
      // the keyed contract, enforced where new data files are BORN: a
      // null key is unaddressable by every keyed operation (merge/
      // delete/feed can never target it) and the SQL catalog declares
      // the key non-null for row-level DML, so no fresh file may carry
      // one. Zero-cost: the same stats pass counted the key's nulls.
      // Enforced here — not at commit — so carried-forward entries of a
      // PRE-GUARD table never brick its metadata ops (setTag, restore,
      // untouched-file deletes all keep working); rewriting such a
      // file's legacy null rows still trips this, which is what
      // [[repairNullKeys]] is for. The staged orphans a throw strands
      // are vacuum's ordinary diet.
      if (!allowNullKeysStaging && e.nulls.exists(_ > 0))
        throw new IllegalArgumentException(
          s"data file ${e.path} carries ${e.nulls.get} null $key keys — a keyed " +
            "snapshot table cannot hold null keys (no keyed operation could ever " +
            "address them); drop or fill them before the write, or run " +
            "repairNullKeys() first if a pre-guard table already holds some")
      e
    }
  }

  /** Inline write-time stats adoption counters — the r20 spec/evidence
    * seam: `inlineStatsCommits` counts stage() calls whose manifest
    * entries came from the in-write observed aggregate (zero read-back
    * jobs), `inlineStatsFallbacks` counts stage() calls where the
    * pid↔file mapping failed verification and the r19 read-back pass
    * ran instead. Cumulative; specs delta them. */
  private[graft] var inlineStatsCommits: Long = 0L
  private[graft] var inlineStatsFallbacks: Long = 0L

  /** Spec seam: `false` stages every commit through [[readBackEntries]]. */
  private[graft] var inlineStats = true

  /** Manifest entries from the write job's own observed [[FileStats]]
    * metric — `None` (fall back to [[readBackEntries]]) when the metric
    * did not arrive or the partition-id ↔ part-file mapping is not the
    * verified 1:1 (a task wrote several files, a name failed to parse —
    * anything unexpected degrades to the slow exact pass, never to
    * wrong stats). */
  private def inlineEntries(o: org.apache.spark.sql.Observation, rel: String,
      kind: String, present: Seq[String], lenByName: Map[String, Long],
      phys: String => String, schema: StructType): Option[Seq[Entry]] = {
    val row =
      try Some(scala.concurrent.Await.result(o.future,
        scala.concurrent.duration.Duration(120, "s")))
      catch { case _: java.util.concurrent.TimeoutException => None }
    row.flatMap { r =>
      val arr = r.getSeq[org.apache.spark.sql.Row](0)
      val partNames = lenByName.keys.filter(_.startsWith("part-")).toSeq
      val partByPid: Map[Int, String] = partNames.flatMap { n =>
        scala.util.Try(n.stripPrefix("part-").takeWhile(_ != '-').toInt)
          .toOption.map(_ -> n)
      }.toMap
      val pids = arr.map(_.getInt(0))
      val mapped = partByPid.size == partNames.size &&
        pids.size == partByPid.size && pids.toSet == partByPid.keySet
      if (!mapped) { inlineStatsFallbacks += 1; None }
      else {
        inlineStatsCommits += 1
        Some(arr.map { sr =>
          val name = partByPid(sr.getInt(0))
          decodeEntry(sr, s"$rel/$name", kind, present, lenByName.get(name), phys, schema)
        })
      }
    }
  }

  /** The r19 stats pass: re-read the freshly written files and gather
    * per-file aggregates grouped by `input_file_name()` — one extra
    * full pass + shuffle + job per commit; kept as the verified
    * fallback for [[inlineEntries]]. */
  private def readBackEntries(pfSchema: StructType, rel: String, out: Path,
      kind: String, present: Seq[String], lenByName: Map[String, Long],
      phys: String => String, schema: StructType): Seq[Entry] = {
    val base = fs.makeQualified(out).toUri.getPath
    // the opt-in key bloom rides the same aggregate: one more column
    // folding xxhash64(key) into the bit words (KeyBloom), appended LAST
    // like FileStats' bloom words
    val bloomAgg =
      if (keyBloomBits == 0) Nil
      else Seq(org.apache.spark.sql.functions
        .udaf(new KeyBloom.BloomAgg(keyBloomBits),
          org.apache.spark.sql.Encoders.scalaLong)
        .apply(xxhash64(col(phys(key)))).as("__kbloom"))
    // columns in FileStats order, so [[decodeEntry]] reads both passes
    val aggs = Seq(count(lit(1)).as("__rows"), count(col(phys(key))).as("__knn"),
      min(col(phys(key))).as("__mn"), max(col(phys(key))).as("__mx")) ++
      present.zipWithIndex.flatMap { case (c, i) =>
        Seq(count(col(phys(c))).as(s"__snn$i"), min(col(phys(c))).as(s"__smn$i"),
          max(col(phys(c))).as(s"__smx$i")) } ++
      bloomAgg
    val stats = spark.read.schema(pfSchema).parquet(out.toString)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    stats.toSeq.map { r =>
      val full = new Path(new java.net.URI(r.getString(0))).toUri.getPath
      val name = full.stripPrefix(base).stripPrefix("/")
      decodeEntry(r, s"$rel/$name", kind, present, lenByName.get(name), phys, schema)
    }
  }

  /** A manifest entry from one file's stats row in [[FileStats]] order:
    * [0] the file (read by the caller), [1] rows, [2] key non-nulls,
    * [3] key min, [4] key max, then (non-nulls, min, max) per `present`
    * column, then the key bloom words. */
  private def decodeEntry(r: org.apache.spark.sql.Row, path: String, kind: String,
      present: Seq[String], bytes: Option[Long], phys: String => String,
      schema: StructType): Entry = {
    val rows = r.getLong(1)
    val (mn, mx) =
      if (kind == "opaque") (None, None)
      else (ordEncode(r.get(3)), ordEncode(r.get(4)))
    // both bounds or neither: a half-encoded pair can't order safely
    val ok = mn.isDefined && mx.isDefined
    val colStats = present.zipWithIndex.flatMap { case (c, i) =>
      colStatAt(r, 5 + 3 * i, rows, kindOf(schema(c).dataType)).map(phys(c) -> _)
    }.toMap
    val bloom =
      if (keyBloomBits == 0) None
      else Some((keyBloomBits, KeyBloom.K, java.util.Base64.getEncoder.encodeToString(
        r.getAs[Array[Byte]](5 + 3 * present.size))))
    Entry(path, rows,
      if (ok) kind else "opaque",
      if (ok) mn else None, if (ok) mx else None, colStats,
      nulls = Some(rows - r.getLong(2)), bloom = bloom, bytes = bytes)
  }

  /** One column's [[ColStat]] from a file's (non-nulls, min, max)
    * aggregate at `at`: bounded when both bounds encode; all-null when
    * every row is null — no orderable bounds, but a fully-known null
    * count, still prunable by null predicates and countable; else none
    * (a half-encoded pair can't order safely). */
  private def colStatAt(r: org.apache.spark.sql.Row, at: Int, rows: Long,
      kind: String): Option[ColStat] = {
    val (mn, mx) = (ordEncode(r.get(at + 1)), ordEncode(r.get(at + 2)))
    val nulls = Some(rows - r.getLong(at))
    if (mn.isDefined && mx.isDefined) Some(ColStat(kind, mn, mx, nulls))
    else if (nulls.contains(rows)) Some(ColStat(kind, None, None, nulls))
    else None
  }

  /** Test seam: lets a spec fabricate the PRE-GUARD legacy shape (a
    * table whose committed files carry null keys) to pin the migration
    * path. Never set in production code. */
  private[graft] var allowNullKeysStaging = false

  /** One-shot migration for a legacy table whose committed files carry
    * null keys (written before the staging guard existed): every file
    * with a known-positive — or UNKNOWN (pre-null-tracking manifest) —
    * null count is rewritten with its null-key rows dropped; files
    * PROVEN clean carry forward by reference. After it commits, every
    * entry carries `nulls = 0`, so all keyed and maintenance operations
    * work again. A no-op (current version returned) when the table is
    * already proven clean. */
  def repairNullKeys(expectedVersion: Option[Long] = None, tag: String = ""): Long = {
    val m = resolveForWrite(expectedVersion)
    val (clean, suspect) = m.entries.partition(_.nulls.contains(0L))
    if (suspect.isEmpty) return m.version
    val kept = readEntries(m, suspect).filter(col(key).isNotNull)
    commit(m.version, "repair", m.schema,
      clean ++ stage(clustered(kept), m.colmap), tag, m.colmap, m.retired)
  }

  /** Cluster on the key before staging so each new file carries a tight
    * key range — what makes the NEXT merge's pruning sharp. Default: no
    * explicit partition count, so AQE right-sizes the range shuffle to
    * the data; `clusterPartitions` pins the file count for workloads
    * that want a fixed layout (AQE coalesces a pinned count less). */
  private def clustered(df: DataFrame): DataFrame = clusterPartitions match {
    case Some(n) => df.repartitionByRange(n, col(key))
    case None => df.repartitionByRange(col(key))
  }

  // ---- commits ----

  /** Test seam: runs after this writer's create-exclusive version claim
    * succeeds (the manifest file exists but is still TORN — no body, no
    * terminator) and before the body is written. A spec uses it to
    * stage the lost-update interleaving: a competing writer with the
    * same base commits a HIGHER version while this writer's manifest is
    * torn, so this writer's interloper checks must see it and abort
    * (normally at the pre-terminate check, while still invisible).
    * No-op in production. */
  private[graft] var onAfterClaim: () => Unit = () => ()

  /** Test seam: runs after the PRE-terminate interloper check passes
    * and before the `#commit` terminator is written — the narrow
    * residual window where a racer landing forces the visible-then-
    * retracted path the POST-check exists for. No-op in production. */
  private[graft] var onBeforeTerminate: () => Unit = () => ()

  private def commit(base: Long, op: String, schema: StructType,
      entries: Seq[Entry], tag: String,
      colmap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      changedKeys: Option[Seq[String]] = None): Long = {
    require(schema.fieldNames.contains(key), s"key column $key missing from schema")
    if (!fs.exists(manifestDir)) fs.mkdirs(manifestDir)
    val target = math.max(base, allVersions.lastOption.getOrElse(-1L)) + 1
    val p = manifestPath(target)
    val out =
      try metaFs.create(p, false) // create-exclusive: the version claim
      catch {
        case e: java.io.IOException =>
          throw new ConcurrentModificationException(
            s"version $target at $dir was claimed by another writer", e)
      }
    def stale(found: Seq[Long]) = new ConcurrentModificationException(
      s"table at $dir advanced to version ${found.max} while this " +
        s"commit was derived from $base — merge against the current snapshot and retry")
    var abortEarly: ConcurrentModificationException = null
    try {
      onAfterClaim() // inside the try: an injected failure still closes
      val body = (Seq(
        "#graft-snapshot 1",
        s"#parent $base",
        s"#op $op",
        s"#key $key",
        s"#schema ${schema.json}") ++ {
        def b64(s: String) = java.util.Base64.getEncoder
          .encodeToString(s.getBytes("UTF-8"))
        (if (colmap.isEmpty) Nil
         else Seq("#colmap " + colmap.toSeq.sortBy(_._1)
           .map { case (l, p) => s"${b64(l)}:${b64(p)}" }.mkString(","))) ++
        (if (retired.isEmpty) Nil
         else Seq("#retired " + retired.map(b64).mkString(","))) ++
        changedKeys.map(ks => s"#keys ${ks.size} ${ks.mkString(",")}")
      } ++
        (if (tag.nonEmpty) Seq(s"#tag ${tag.replaceAll("[\\r\\n]", " ")}") else Nil) ++
        entries.flatMap(e => (e.line +: e.statLines) ++ e.bloomLines ++ e.dvLines))
        .mkString("\n")
      out.write(body.getBytes("UTF-8"))
      // PRE-terminate lost-update check: a version already committed
      // above our base means we lost the race — abort while this
      // manifest is still TORN (invisible), so the common lost race
      // never becomes a phantom commit a reader can observe vanishing.
      // Only versions ABOVE the base need loading — the check never
      // cares about older history, so it stays O(1) loads per commit.
      val early = committedVersionsAbove(base).filter(_ != target)
      if (early.nonEmpty) abortEarly = stale(early)
      else {
        onBeforeTerminate()
        out.write("\n#commit".getBytes("UTF-8"))
      }
    } finally out.close()
    if (abortEarly != null) {
      retract(p) // still torn — tombstoning debris, not a commit
      throw abortEarly
    }
    // POST-terminate lost-update check — the at-most-one-success hinge:
    // ANY version committed above our base, below OR above our own
    // claim, means we merged against a stale snapshot; retract and fail
    // (the caller re-reads and retries; its staged files are orphans).
    // `v != target`, not `v < target`: a racer with our base can claim
    // PAST our still-torn manifest and commit first, and only this side
    // catches that interleaving (each surviving writer terminates
    // before this check, so of two racers at least one always sees the
    // other committed — never two silent successes). The pre-check
    // above cannot replace it: a racer landing between the pre-check
    // and the terminator write is only visible here — that residual
    // window is the ONLY remaining source of a visible-then-retracted
    // version (see latestManifest for the reader-side consequence).
    val interloper = committedVersionsAbove(base).filter(_ != target)
    if (interloper.nonEmpty) {
      retract(p)
      throw stale(interloper)
    }
    target
  }

  /** Retract a lost commit's manifest by REWRITING it as a torn
    * TOMBSTONE (no `#commit` terminator — readers already treat any
    * unterminated manifest as absent) instead of deleting the file.
    * Deleting would free the version NUMBER for a later writer's claim
    * (the counter keys off the highest file present), and a number that
    * can carry two different contents over its life is what the parse
    * cache's (length, mtime) validation cannot always distinguish — a
    * re-claimed manifest of coincidentally equal byte length landing in
    * the same mtime granule would serve the RETRACTED content forever.
    * A tombstone keeps the number claimed for good: version numbers are
    * write-once (torn → committed is the only content transition, and
    * it always grows the file by the terminator; committed → tombstone
    * always shrinks it), so a validated cache hit can never be stale.
    * The overwrite is not atomic, but every partial state lacks the
    * terminator and reads as torn — exactly the tombstone's meaning. */
  private def retract(p: Path): Unit = {
    val out = metaFs.create(p, true)
    try out.write("#graft-retracted 1".getBytes("UTF-8")) finally out.close()
  }

  /** Create the table from `df`, or replace its contents wholesale if
    * it exists (a full-overwrite commit — prior versions stay
    * readable). `tag` rides INSIDE the commit's manifest — an
    * application sequencing token (e.g. a streaming micro-batch id)
    * that becomes visible atomically with the data it describes, so a
    * "was this batch applied?" check ([[currentTag]]) can never
    * disagree with the table contents the way a separate marker file
    * can (crash between two swaps ⇒ double-apply). */
  def create(df: DataFrame, tag: String = ""): Long = latestManifest match {
    case None => commit(-1L, "create", df.schema, stage(clustered(df)), tag)
    case Some(m) =>
      // An OVERWRITE on a column-mapped table must keep PHYSICAL names
      // stable: the change feed reads every file in a cross-overwrite
      // interval with the TO manifest's mapping, so resetting the
      // mapping here would make pre-overwrite files null-fill each
      // renamed column (the file stores the old physical name, the
      // empty-mapped read requests the new logical one). Mapping
      // entries for columns the new frame keeps carry forward — their
      // fresh files restage under the same physical name — and the
      // physical names of mapping entries the overwrite DROPS are
      // retired (alongside the carried-forward `retired` list): a later
      // ADD COLUMNS reusing such a name would otherwise pass the
      // haunted-name check below (the physical is in neither the new
      // colmap's values nor `retired`), and a feed read across the
      // overwrite would serve the renamed-away column's bytes as the
      // new column's history — the same resurrection [[dropColumn]]
      // guards against by retiring its physical. A
      // brand-new column whose name matches a MAPPED physical or a
      // retired name is rejected: old files hold bytes under that name
      // that belonged to a DIFFERENT logical column, and a feed read
      // across the overwrite would serve them as the new column's
      // history. (A plain identity-named column the overwrite drops
      // may be re-added freely — at historical versions those bytes
      // genuinely were that column.)
      val keep = m.colmap.filter { case (l, _) => df.schema.fieldNames.contains(l) }
      val haunted = m.colmap.values.toSet ++ m.retired
      df.schema.fieldNames.filterNot(m.schema.fieldNames.contains)
        .filter(haunted).foreach(n => throw new IllegalArgumentException(
          s"overwrite column $n collides with a physical name existing data files " +
            "hold for a renamed or dropped column — historical reads across the " +
            "overwrite would resurrect those bytes; pick a fresh name"))
      commit(m.version, "overwrite", df.schema, stage(clustered(df), keep),
        tag, keep, (m.retired ++ (m.colmap -- keep.keySet).values).distinct)
  }

  /** The latest committed version's application tag, if one was set. */
  def currentTag: Option[String] = latestManifest.flatMap(_.tag)

  /** The application tag committed version `v` carries, if any — time
    * travel for the rider fact: `readVersion(v)` and `tagAt(v)` come
    * from ONE manifest, so the pair is consistent by construction. */
  def tagAt(v: Long): Option[String] = loadManifest(v).flatMap(_.tag)

  /** Time travel by APPLICATION tag: the newest committed version whose
    * tag equals `tag` — "read the corpus as the pipeline published it
    * for batch X / watermark W" without the caller tracking version
    * numbers. None when no kept version carries the tag (e.g. retired
    * past the retention window). */
  def versionForTag(tag: String): Option[Long] =
    listManifests.reverseIterator.collectFirst {
      case (v, st) if loadValidated(v, st).exists(_.tag.contains(tag)) => v
    }

  /** Time travel by TIMESTAMP: the newest committed version whose
    * manifest file's modification time is ≤ `tsMillis` — "read the
    * table as of last Tuesday" without the caller tracking versions.
    * The commit instant is the manifest's FILESYSTEM mtime (set when
    * the claim file was created — commits carry no wall-clock field of
    * their own, by design: the protocol never trusts the driver's
    * clock), so the same fs-vs-driver skew caveat as [[vacuum]]
    * applies: compare against timestamps observed FROM the filesystem
    * where precision matters. None when every kept version is newer
    * (history before the window was retired, or the table post-dates
    * the timestamp). A manifest retracted between listing and stat
    * reads as absent, like everywhere else. */
  def versionAsOf(tsMillis: Long): Option[Long] =
    listManifests.reverseIterator.collectFirst {
      case (v, st) if st.getModificationTime <= tsMillis &&
        loadValidated(v, st).isDefined => v
    }

  /** [[readVersion]] addressed by timestamp — see [[versionAsOf]]. */
  def readAsOf(tsMillis: Long): DataFrame =
    readVersion(versionAsOf(tsMillis).getOrElse(throw new IllegalStateException(
      s"no committed version at $dir as of $tsMillis")))

  /** Tag-only commit: the current file set re-committed under a new
    * application tag — advancing the rider fact (e.g. the incremental
    * pipeline's watermark on a run that changed no rows) without
    * writing any data files. Manifest-write cost only. */
  def setTag(tag: String): Long = {
    val m = requireManifest
    commit(m.version, "tag", m.schema, m.entries, tag, m.colmap, m.retired)
  }

  /** RESTORE: make historical version `v`'s contents current again, as
    * a NEW commit referencing v's exact file set — nothing is copied or
    * deleted, and the botched versions between v and now stay readable
    * until retired (auditable rollback, not history rewrite). The
    * restored commit carries v's tag, so a tag-keyed consumer (the
    * incremental watermark, a streaming batch id) rolls back WITH the
    * data — one fact, as always. Requires `v` still within the
    * retention window. */
  def restore(v: Long, expectedVersion: Option[Long] = None): Long = {
    val cur = resolveForWrite(expectedVersion).version
    val m = loadManifest(v).getOrElse(
      throw new IllegalStateException(s"no committed version $v at $dir to restore"))
    commit(cur, "restore", m.schema, m.entries, m.tag.getOrElse(""),
      m.colmap, m.retired)
  }

  /** Retire history: delete all committed manifests except the newest
    * `keepLast` — retired versions stop being readable (time travel
    * shrinks to the kept window) and their no-longer-referenced files
    * become [[vacuum]]-reclaimable. The standard retention two-step for
    * a table maintained by a long-running writer (a streaming sink
    * commits every micro-batch; unbounded history is a leak). Version
    * NUMBERING is unaffected: the claim counter keys off the newest
    * manifest, which is always kept. Returns the number of versions
    * actually RETAINED — min(keepLast, history length), so a caller
    * (e.g. `CALL graft.retire`) reports what survived, not the ask. */
  def retire(keepLast: Int): Int = {
    require(keepLast >= 1, "retire must keep at least the current version")
    val committed = committedManifests.map(_.version)
    committed.dropRight(keepLast).foreach(v => fs.delete(manifestPath(v), false))
    // retraction tombstones and crashed-claim debris BELOW the kept
    // window are unreachable forever (torn is never readable, and the
    // claim counter sits at the head, so these numbers can never be
    // claimed again) — drop them with the history they interleaved.
    // Torn files AT or ABOVE the kept floor stay: one could be a live
    // writer's in-flight claim.
    committed.takeRight(keepLast).headOption.foreach { floor =>
      listManifests
        .collect { case (v, st) if v < floor && loadValidated(v, st).isEmpty => v }
        .foreach(v => fs.delete(manifestPath(v), false))
    }
    math.min(keepLast, committed.size)
  }

  /** Append `df` as new files; every existing file carries forward by
    * reference. Supports the same add-nullable-column evolution as
    * [[merge]] (the pre-evolution files read the new column as null). */
  def append(df: DataFrame, tag: String = ""): Long = {
    val m = requireManifest
    val evolved = evolveSchema(m, df.schema)
    commit(m.version, "append", evolved,
      m.entries ++ stage(clustered(df.select(evolved.fieldNames.map(col): _*)), m.colmap),
      tag, m.colmap, m.retired)
  }

  /** Schema evolution on write: the source may ADD nullable columns
    * (appended after the table's fields; files committed before the
    * evolution read them as null — parquet scans with an explicit
    * schema fill absent columns, so nothing is rewritten and file
    * min/max key stats carry unchanged). Everything else is rejected
    * loudly: a type change would silently corrupt old rows on read, a
    * dropped column is ambiguous (evolution or a caller bug?), and a
    * non-nullable addition has no value for existing rows. The standard
    * Delta/Iceberg-class add-column contract, minimally re-derived. */
  private def evolveSchema(m: Manifest, source: StructType): StructType = {
    val table = m.schema
    val byName = table.fields.map(f => f.name -> f).toMap
    source.fields.foreach(f => byName.get(f.name).foreach { t =>
      if (t.dataType != f.dataType) throw new IllegalArgumentException(
        s"column ${f.name}: source type ${f.dataType.sql} does not match table type " +
          s"${t.dataType.sql} — type changes are not supported, add a new column instead")
    })
    val dropped = table.fieldNames.filterNot(n => source.fieldNames.contains(n))
    if (dropped.nonEmpty) throw new IllegalArgumentException(
      s"source is missing table columns ${dropped.mkString(", ")} — " +
        "a write must carry every existing column (dropping columns is not supported)")
    val added = source.fields.filterNot(f => byName.contains(f.name))
    // an added column's PHYSICAL name is its own name — it must not
    // collide with a physical name old files already hold (another
    // column's pre-rename name, or a dropped column's): the explicit-
    // schema read would serve those files' OLD bytes under the new
    // column instead of the null-fill the evolution contract promises.
    // Checked FIRST: silent data resurrection outranks nullability
    val livePhys = table.fieldNames.map(m.physOf).toSet
    val haunted = livePhys ++ m.retired
    added.map(_.name).filter(haunted).foreach(n => throw new IllegalArgumentException(
      s"added column $n collides with a physical column name existing data files " +
        "already hold (a renamed-away or dropped column) — rows would resurrect; " +
        "pick a fresh name"))
    added.filterNot(_.nullable).foreach(f => throw new IllegalArgumentException(
      s"added column ${f.name} must be nullable — rows committed before the " +
        "evolution have no value for it"))
    if (added.isEmpty) table
    else StructType(table.fields.toSeq ++ added.map(_.copy(nullable = true)))
  }

  /** RENAME a column — a manifest-only commit (zero data files
    * rewritten, at any table size): the schema shows the new LOGICAL
    * name while the column mapping keeps addressing the files' stable
    * PHYSICAL name, so files written before the rename serve the
    * renamed column unchanged. The KEY column cannot be renamed (its
    * name addresses every keyed operation, the manifest `#key` header,
    * and every open handle); the new name must be fresh among logical
    * names. Stats, blooms, pruning, the change feed, and time travel
    * all survive: stats are keyed physically, and historical versions
    * keep their own mapping. */
  def renameColumn(oldName: String, newName: String, tag: String = ""): Long =
    alterColumns(Seq(SnapshotTable.Rename(oldName, newName)), tag)

  /** DROP a column — manifest-only, like [[renameColumn]]: the schema
    * loses the field, old files keep the physical bytes (reclaimed as
    * rewrites happen), and the physical name is RETIRED so no future
    * add can resurrect the dropped values. The key cannot be dropped. */
  def dropColumn(name: String, tag: String = ""): Long =
    alterColumns(Seq(SnapshotTable.Drop(name)), tag)

  /** ADD a nullable column — manifest-only, the DDL twin of the
    * write-side evolution [[evolveSchema]] performs: the schema gains
    * the field (appended last), files committed before the add read it
    * as null (explicit-schema parquet scans fill absent columns), and
    * nothing is rewritten at any table size. The same resurrection
    * guard as the write path applies: a name any existing data file
    * already holds bytes under (a renamed-away or dropped column's
    * physical name) is rejected. */
  def addColumn(name: String, dataType: DataType, tag: String = ""): Long =
    alterColumns(Seq(SnapshotTable.Add(name, dataType)), tag)

  /** WIDEN a column's type along the lossless lattice (`int → long`,
    * `float → double`) — manifest-only, like every DDL here: the new
    * manifest records the widened LOGICAL type, files committed before
    * it keep their narrow physical encoding (Spark's parquet readers
    * apply widening promotions at scan), files staged after it write
    * wide. Stats stay sound across the boundary: integer encodings are
    * exact decimal strings in both widths, and float stats re-encode
    * to the double's canonical form (`parseFloat` round-trips the
    * recorded string to the EXACT original float, whose double value
    * is then encoded the way every future double literal will be).
    * Widening the KEY column additionally STRIPS per-file key blooms —
    * the hash domain changes with the type (xxhash64(Int) ≠
    * xxhash64(Long)), so old blooms would wrongly skip files; range
    * pruning carries the load until the next rewrite rebuilds them.
    * Every other type change stays loudly rejected. */
  def widenColumn(name: String, to: DataType, tag: String = ""): Long =
    alterColumns(Seq(SnapshotTable.Widen(name, to)), tag)

  /** ONE ATOMIC multi-change schema alter: the changes apply in order
    * to a scratch (schema, colmap, retired) and land as a SINGLE
    * manifest commit — all-or-nothing (any rejected change aborts the
    * whole statement before anything is committed) and one version
    * bump, never a partially-applied ALTER visible in history. Each
    * change carries the same contracts as its single-change wrapper
    * ([[renameColumn]]/[[dropColumn]]/[[addColumn]]/[[widenColumn]]);
    * later changes see earlier ones (a rename's new name is droppable,
    * a just-dropped physical is already retired for a following add). */
  def alterColumns(changes: Seq[SnapshotTable.SchemaChange], tag: String = ""): Long = {
    require(changes.nonEmpty, "alterColumns needs at least one change")
    val m = resolveForWrite(None)
    var schema = m.schema
    var colmap = m.colmap
    var retired = m.retired
    var entries = m.entries
    def physOf(l: String) = colmap.getOrElse(l, l)
    def checkName(n: String): Unit = require(
      n.nonEmpty && !n.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
      "column names must be non-empty and tab/newline-free")
    changes.foreach {
      case SnapshotTable.Rename(oldName, newName) =>
        require(oldName != key,
          s"cannot rename the key column $key — it addresses every keyed operation " +
            "and every open handle; rename any other column freely")
        require(schema.fieldNames.contains(oldName),
          s"no column $oldName in table schema ${schema.fieldNames.mkString(", ")}")
        require(!schema.fieldNames.contains(newName),
          s"column $newName already exists")
        checkName(newName)
        val phys = physOf(oldName)
        schema = StructType(schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
        // renaming BACK to the physical name drops the mapping entry
        colmap = (colmap - oldName) ++
          (if (newName == phys) Map.empty[String, String] else Map(newName -> phys))
      case SnapshotTable.Drop(name) =>
        require(name != key, s"cannot drop the key column $key")
        require(schema.fieldNames.contains(name),
          s"no column $name in table schema ${schema.fieldNames.mkString(", ")}")
        val phys = physOf(name)
        schema = StructType(schema.fields.filterNot(_.name == name))
        colmap -= name
        retired :+= phys
      case SnapshotTable.Add(name, dataType) =>
        require(!schema.fieldNames.contains(name), s"column $name already exists")
        checkName(name)
        // the added column's PHYSICAL name is its own name — the same
        // haunted-name check as evolveSchema: bytes existing files hold
        // under it (another column's pre-rename name, or a dropped
        // column's) would resurrect under the new column
        val haunted = schema.fieldNames.map(physOf).toSet ++ retired
        require(!haunted(name),
          s"added column $name collides with a physical column name existing data " +
            "files already hold (a renamed-away or dropped column) — rows would " +
            "resurrect; pick a fresh name")
        schema = StructType(schema.fields :+
          StructField(name, dataType, nullable = true))
      case SnapshotTable.Widen(name, to) =>
        require(schema.fieldNames.contains(name),
          s"no column $name in table schema ${schema.fieldNames.mkString(", ")}")
        val from = schema(name).dataType
        val widens = (from, to) match {
          case (IntegerType, LongType) => true
          case (FloatType, DoubleType) => true
          case _ => false
        }
        require(widens,
          s"column $name: ${from.sql} does not widen losslessly to ${to.sql} — " +
            "only INT → BIGINT and FLOAT → DOUBLE are supported; other type " +
            "changes never happen (old rows would corrupt on read)")
        // float stats re-encode to the double's canonical decimal form
        // (see widenColumn); integer decimal strings are width-exact
        def fix(s: String): String =
          BigDecimal(java.lang.Float.parseFloat(s).toDouble.toString).toString
        val isFloat = from == FloatType
        if (name == key)
          entries = entries.map(e => e.copy(bloom = None,
            min = if (isFloat) e.min.map(fix) else e.min,
            max = if (isFloat) e.max.map(fix) else e.max))
        else if (isFloat) {
          val phys = physOf(name)
          entries = entries.map(e => e.copy(stats = e.stats.map {
            case (c, st) if c == phys =>
              c -> st.copy(min = st.min.map(fix), max = st.max.map(fix))
            case other => other
          }))
        }
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f))
    }
    val op = changes match {
      case Seq(_: SnapshotTable.Rename) => "rename"
      case Seq(_: SnapshotTable.Drop) => "drop"
      case Seq(_: SnapshotTable.Add) => "addcol"
      case Seq(_: SnapshotTable.Widen) => "widen"
      case _ => "alter"
    }
    commit(m.version, op, schema, entries, tag, colmap, retired)
  }

  /** OPTIMIZE — small-file compaction: every data file smaller than
    * `smallBytes` is rewritten (together with its small peers) into
    * right-sized, key-clustered files; files at or above the threshold
    * carry forward by reference. Content-identical: just a new version
    * with a healthier layout, so snapshot isolation, time travel, and
    * the claim protocol apply unchanged (a concurrent merge racing the
    * optimize fails loudly, exactly like two merges). The standard
    * maintenance job for a table maintained by frequent small merges —
    * each merge writes batch-sized files, and after enough rounds the
    * per-file open/footer cost dominates scans. File sizes come from
    * the manifest (recorded at stage time — the small-file partition is
    * driver arithmetic); entries from pre-length manifests pay one
    * getFileStatus each (maintenance-op cost, not query-path cost).
    * Returns the new version, or the current one when fewer than two
    * files are small (nothing to gain).
    *
    * `zorderBy` switches the rewrite to MULTI-DIMENSION clustering
    * ([[ZOrder]]): EVERY live file is rewritten, range-clustered on the
    * bit-interleaved z-value of the named columns, so the manifest's
    * per-file [min,max] turns tight in every named dimension at once —
    * the layout for a store queried by both its key and a secondary
    * stats column. The trade is explicit: the key's per-file ranges
    * widen from perfect to ~z-grain (merges prune a little less
    * tightly), secondary dimensions go from no skipping to real
    * skipping. Still a content-identical `optimize` commit: the change
    * feed skips it and a mirror sync across it advances tag-only.
    * Z-order with this handle's `statsColumns` covering the non-key
    * dimensions, or the sharpened layout records no stats to skip on. */
  def optimize(smallBytes: Long = 32L << 20, zorderBy: Seq[String] = Nil): Long = {
    val m = requireManifest
    if (zorderBy.nonEmpty) {
      zorderBy.foreach(c => require(m.schema.fieldNames.contains(c),
        s"z-order column $c not in table schema ${m.schema.fieldNames.mkString(", ")}"))
      zorderBy.foreach(c => require(kindOf(m.schema(c).dataType) != "opaque",
        s"z-order column $c has no orderable stats encoding (${m.schema(c).dataType.sql})"))
      if (m.entries.size <= 1) return m.version
      val all = readEntries(m, m.entries)
      val z = ZOrder.zvalue(all, m.entries.map(_.rows).sum, zorderBy, bits = 8,
        c => kindOf(m.schema(c).dataType), ordEncode, ordLt)
        .getOrElse(return m.version) // no usable boundaries: nothing to gain
      val zed = all.withColumn("__z", z)
      val ranged = (clusterPartitions match {
        case Some(n) => zed.repartitionByRange(n, col("__z"))
        case None => zed.repartitionByRange(col("__z"))
      }).sortWithinPartitions("__z").drop("__z")
      return commit(m.version, "optimize", m.schema, stage(ranged, m.colmap),
        m.tag.getOrElse(""), m.colmap, m.retired)
    }
    // deletion-vectored files always join the rewrite set: compaction
    // is where merge-on-read debt is repaid (the masked read below
    // applies the vectors; the restaged files carry none)
    val (small, big) = m.entries.partition(e =>
      e.dv.isDefined || statusOf(e).getLen < smallBytes)
    if (small.size <= 1 && !small.exists(_.dv.isDefined)) return m.version
    commit(m.version, "optimize", m.schema,
      big ++ stage(clustered(readEntries(m, small)), m.colmap),
      m.tag.getOrElse(""), m.colmap, m.retired)
  }

  /** Reclaim data files NO committed manifest references — the orphans
    * of crashed or retracted commits (staged data is written before its
    * manifest, so a failure strands it invisibly). Every committed
    * version's files are kept: time travel survives vacuum; to bound
    * history, overwrite + drop old manifests out-of-band. Files younger
    * than `graceMs` are kept too — only age distinguishes a LIVE
    * writer's in-flight stage from a crashed one's. The age cutoff is
    * derived from the FILESYSTEM'S clock (the mtime a just-created
    * probe file receives), not the driver's: on an object store or
    * remote FS whose clock skews from the vacuuming host, a local
    * `currentTimeMillis` cutoff could see a seconds-old in-flight
    * stage as past the grace window and reclaim it under a live
    * writer. Comparing mtimes to an mtime keeps both sides on one
    * clock. Returns deleted paths. */
  def vacuum(graceMs: Long = 600000L): Seq[String] = {
    val dataDir = new Path(s"$dir/data")
    if (!fs.exists(dataDir)) return Nil
    def canon(p: Path): String = fs.makeQualified(p).toUri.getPath
    // data files AND deletion-vector sidecars: both live under data/
    // and both are reachable from committed manifests only
    val referenced = committedManifests
      .flatMap(_.entries.flatMap(e => e.path +: e.dv.map(_._1).toSeq))
      .map(p => canon(new Path(s"$dir/$p"))).toSet
    val fsNow = {
      val probe = new Path(dataDir, s".vacuum-probe-${java.util.UUID.randomUUID()}")
      fs.create(probe, true).close()
      val t = fs.getFileStatus(probe).getModificationTime
      fs.delete(probe, false)
      t
    }
    val cutoff = fsNow - graceMs
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(dataDir).foreach { sub =>
      if (sub.isDirectory) {
        val files = fs.listStatus(sub.getPath)
        files.foreach { f =>
          // <=: delete when age ≥ grace — with graceMs=0 a file written
          // in the probe's own millisecond is still "no grace requested"
          if (!referenced(canon(f.getPath)) && f.getModificationTime <= cutoff) {
            fs.delete(f.getPath, false)
            deleted += canon(f.getPath)
          }
        }
        if (fs.listStatus(sub.getPath).isEmpty) fs.delete(sub.getPath, false)
      }
    }
    deleted.toSeq
  }

  /** Keyed MERGE (upsert): rows of `source` replace table rows with an
    * equal key; the rest insert — exactly the reference's ON CONFLICT
    * DO UPDATE, and result-identical to [[Upsert.merge]] over the same
    * frames. Only files whose key range can intersect the source's are
    * rewritten; `source` must be key-unique (two source rows with one
    * key would be an ambiguous update — rejected loudly, like
    * Postgres's "cannot affect row a second time"). An empty source
    * commits nothing (see [[keyedWrite]]).
    *
    * `expectedVersion` pins the snapshot the caller derived `source`
    * from (compare-and-swap): if the table has advanced past it by
    * commit time, the merge throws instead of silently overwriting the
    * interloper's rows. */
  def merge(source: DataFrame, expectedVersion: Option[Long] = None,
      tag: String = ""): Long =
    keyedWrite("merge", Some(source), None, expectedVersion, tag)

  /** Keyed DELETE: drop every row whose key appears in `keys` — the
    * right-to-be-forgotten primitive a training-corpus store owes its
    * sources (remove these doc_ids everywhere, atomically, without
    * rewriting the corpus). Same file-pruned copy-on-write as [[merge]]:
    * only files whose key range can hold a doomed key are rewritten
    * (anti-join against the key set); everything else carries forward
    * by reference. A handle with `deleteVectorMaxRows > 0` goes one
    * rung further: a small doomed set lands as per-file DELETION
    * VECTORS — zero data files rewritten, reads anti-join the sidecar —
    * falling back to the rewrite per file past the cap (see the
    * constructor note). NOTE the version-history consequence: prior
    * snapshots still reference the old files, so a true forget must be
    * followed by retiring pre-delete manifests + [[vacuum]] — the same
    * two-step every snapshot table format has. */
  def delete(keys: DataFrame, expectedVersion: Option[Long] = None,
      tag: String = ""): Long =
    keyedWrite("delete", None, Some(keys), expectedVersion, tag)

  /** Combined upsert + delete in ONE atomic commit — what a change-feed
    * consumer ([[SnapshotSync]]) needs: applying a feed as separate
    * delete and merge commits exposes an intermediate version with the
    * deletes applied but the adds missing. One copy-on-write pass over
    * the union of both key sets: touched files drop rows keyed by
    * `deleteKeys` OR replaced by `upserts`, survivors ∪ upserts land as
    * new files. A key present in BOTH lands as its upsert (the upsert
    * wins). Same key-uniqueness, evolution, and CAS contracts as
    * [[merge]]; on a `deleteVectorMaxRows` handle, files only the
    * delete side touches take deletion vectors like [[delete]]'s — the
    * CDC-mirror stream's scattered per-batch deletes stop paying
    * copy-on-write. An empty delta advances only the tag. */
  def applyDelta(upserts: DataFrame, deleteKeys: DataFrame,
      expectedVersion: Option[Long] = None, tag: String = ""): Long =
    keyedWrite("delta", Some(upserts), Some(deleteKeys), expectedVersion, tag)

  /** Data files the most recent keyed write ([[merge]], [[delete]],
    * [[applyDelta]]) rewrote — 0 when it only inserted or took deletion
    * vectors, the spec/soak seam for "a scattered forget rewrites
    * nothing". -1 until a keyed write commits. */
  private[graft] var lastRewrites: Int = -1

  /** The ONE keyed write behind [[merge]] (upserts only), [[delete]]
    * (delete keys only) and [[applyDelta]] (both), committed as `op`:
    *
    *   1. one [[batchKeys]] job profiles both sides (an absent side adds
    *      nothing to it) — whatever the key types, kind or values. Only a
    *      distinct key set past `pruneSetCap` takes the uncollected
    *      route, which runs the per-purpose jobs instead: the upsert
    *      side's guard counts, the sub-range [[keyPruner]] over the key
    *      union, the doomed-set count;
    *   2. the upsert side must be key-unique;
    *   3. files no batch key can reach carry forward by reference;
    *   4. on a `deleteVectorMaxRows` handle, touched files no UPSERT key
    *      can reach go through [[deletionVectorPlan]] with the doomed
    *      keys (delete keys the upserts do not replace) when there are
    *      at most `deleteVectorMaxRows` of them; upsert-touched files
    *      always rewrite (the upsert replaces rows);
    *   5. rewritten files' survivors ∪ upserts stage range-clustered
    *      and commit with the carried and vectored entries.
    *
    * A write with no upsert rows that rewrites and vectors nothing (and
    * evolves no schema) commits nothing: it returns the current version,
    * or records a new `tag` alone — the cursor-bearing no-op a
    * change-feed consumer applies across a rewrite-only interval. */
  private def keyedWrite(op: String, upserts: Option[DataFrame],
      deleteKeys: Option[DataFrame], expectedVersion: Option[Long], tag: String): Long = {
    val m = resolveForWrite(expectedVersion)
    deleteKeys.foreach(d => require(d.schema.fieldNames.contains(key),
      s"${if (upserts.isDefined) "applyDelta " else ""}delete keys must carry " +
        s"the table key column $key"))
    val schema = upserts.fold(m.schema)(u => evolveSchema(m, u.schema))
    val keyType = schema(key).dataType
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val up = upserts.map(_.persist(disk))
    val del = deleteKeys.map(_.select(col(key)).persist(disk))
    try {
      val bk = batchKeys(up, del, keyType)
      val nUpRows = up.fold(0L) { u =>
        val (rows, distinct) = bk match {
          case Some(b) => (b.upRows, b.upKeys.length.toLong)
          case None =>
            val r = u.agg(count(lit(1)), count_distinct(col(key))).collect()(0)
            (r.getLong(0), r.getLong(1))
        }
        if (rows != distinct) throw new IllegalArgumentException(
          s"${if (del.isDefined) "applyDelta upserts carry" else "merge source carries"} " +
            s"${rows - distinct} duplicate $key keys — an upsert batch must be key-unique")
        rows
      }
      // an empty upsert side is absent from here on: it prunes, splits
      // and stages nothing, so it must cost no job
      val liveUp = up.filter(_ => nUpRows > 0)
      val upKeys = liveUp.map(_.select(col(key)))
      val affected = (upKeys ++ del).reduceOption(_ unionByName _)
      // past the cap some side holds keys, so `affected` is defined
      val (touched, untouched) = m.entries.partition(
        bk.fold(keyPruner(affected.get, keyType))(b => exactKeyPruner(b.keys, keyType)))
      val split = del match {
        case Some(d) if deleteVectorMaxRows > 0 && touched.nonEmpty =>
          val (upTouched, delOnly) = upKeys.fold((Seq.empty[Entry], touched)) { uk =>
            touched.partition(
              bk.fold(keyPruner(uk, keyType))(b => exactKeyPruner(b.upKeys, keyType)))
          }
          // the doomed set: delete keys no upsert replaces (the upsert
          // wins), table-typed so sidecars compare as the key type; a set
          // over the per-file cap would bloat every sidecar it unions
          // into, so those files rewrite instead
          val plan = if (delOnly.isEmpty) None else bk match {
            case Some(b) =>
              if (b.delOnly.isEmpty || b.delOnly.length > deleteVectorMaxRows) None
              else Some(deletionVectorPlan(m, delOnly, localKeyFrame(b.delOnly, keyType)))
            case None =>
              val typed = tableKeys(d, keyType).distinct()
              val doomed = upKeys.fold(typed)(typed.join(_, Seq(key), "left_anti"))
                .persist(disk)
              try {
                val n = doomed.count()
                if (n == 0 || n > deleteVectorMaxRows) None
                else Some(deletionVectorPlan(m, delOnly, doomed))
              } finally doomed.unpersist(blocking = false)
          }
          plan.fold(DvPlan(Nil, Nil, touched))(p => p.copy(cow = upTouched ++ p.cow))
        case _ => DvPlan(Nil, Nil, touched)
      }
      if (nUpRows == 0 && split.cow.isEmpty && split.dvd.isEmpty && schema == m.schema)
        return if (tag.nonEmpty && !m.tag.contains(tag)) setTag(tag) else m.version
      lastRewrites = split.cow.size
      val fresh =
        if (split.cow.isEmpty && nUpRows == 0) Nil // pure-DV: stage no empty dir
        else {
          // rewritten files read with the EVOLVED schema: a just-added
          // column comes back null for pre-evolution rows. Reaching here
          // means upsert rows or touched files, so some key side exists
          val antiKeys = bk.fold(affected.get)(b => localKeyFrame(b.keys, keyType))
          val survivors = readEntries(m, schema, split.cow).join(antiKeys, Seq(key), "left_anti")
          stage(clustered(liveUp.fold(survivors)(u =>
            survivors.unionByName(u.select(schema.fieldNames.map(col): _*)))), m.colmap)
        }
      commit(m.version, op, schema, untouched ++ split.carry ++ split.dvd ++ fresh,
        tag, m.colmap, m.retired, bk.flatMap(b => recordedKeys(b.keys, keyType)))
    } finally (up ++ del).foreach(_.unpersist(blocking = false))
  }

  /** The merge-on-read split of `entries` against a (table-typed,
    * distinct, ≤ cap) doomed-key set: `carry` never held a doomed row
    * (range/bloom false positives — forward by reference), `dvd` got a
    * fresh deletion vector (sidecars written here), `cow` must rewrite
    * (over the accumulated cap, or emptied outright — an emptied file's
    * rewrite stages nothing, dropping the file). */
  private final case class DvPlan(carry: Seq[Entry], dvd: Seq[Entry], cow: Seq[Entry])

  private def deletionVectorPlan(m: Manifest, entries: Seq[Entry],
      ksT: DataFrame): DvPlan = {
    // EXACT per-file NEWLY-masked counts — what keeps countRows()
    // pure manifest arithmetic. __file materializes at scan time,
    // BEFORE any join, so later shuffles cannot blank it. Files
    // with an existing vector count AGAINST THEIR MASKED VIEW
    // (anti-join the old sidecar first): a batch re-deleting an
    // already-masked key must add 0, or the accumulated count would
    // exceed the rows actually masked and countRows would drift.
    def canon(p: String): String = fs.makeQualified(new Path(p)).toUri.getPath
    val relByCanon = entries.map(e => canon(s"$dir/${e.path}") -> e.path).toMap
    val matchedByPath: Map[String, Long] =
      entries.groupBy(_.dv.map(_._1)).toSeq.flatMap { case (oldDv, es) =>
        val scanned = readEntriesRaw(m, m.schema, es)
          .select(col(key), input_file_name().as("__file"))
        val live = oldDv.fold(scanned)(p => scanned.join(
          spark.read.parquet(s"$dir/$p").select(col(key)), Seq(key), "left_anti"))
        live.join(ksT, Seq(key), "left_semi")
          .groupBy(col("__file")).agg(count(lit(1)).as("n"))
          .collect()
          .flatMap { r =>
            relByCanon.get(new Path(new java.net.URI(r.getString(0))).toUri.getPath)
              .map(_ -> r.getLong(1))
          }
      }.toMap
    // files the range/bloom prune could not clear but that hold no
    // doomed row carry forward untouched
    val falsePos = entries.filterNot(e => matchedByPath.contains(e.path))
    val hit = entries.filter(e => matchedByPath.contains(e.path))
    // over the accumulated cap, or emptied outright: rewrite
    val (cow, dvd) = hit.partition { e =>
      val masked = matchedByPath(e.path) + e.dv.map(_._2).getOrElse(0L)
      masked > deleteVectorMaxRows || masked == e.rows
    }
    // one new sidecar per EXISTING sidecar group (co-committed files
    // share theirs): old keys ∪ batch. A sidecar carrying keys some
    // member file never held is fine — doomed keys are doomed
    // table-wide and the anti-join ignores non-members; the masked
    // COUNTS stay per-entry exact.
    val dvdNew = dvd.groupBy(_.dv.map(_._1)).toSeq.flatMap { case (oldDv, es) =>
      val sidecarKeys = oldDv match {
        case Some(p) => spark.read.parquet(s"$dir/$p").select(col(key))
          .unionByName(ksT).distinct()
        case None => ksT
      }
      val dvPath = stageDv(sidecarKeys)
      es.map(e => e.copy(dv =
        Some((dvPath, e.dv.map(_._2).getOrElse(0L) + matchedByPath(e.path)))))
    }
    DvPlan(falsePos, dvdNew, cow)
  }

  /** Write a doomed-key set as ONE parquet part file under `data/` and
    * return its table-relative path — a single FILE (not a directory)
    * so [[vacuum]]'s referenced-set bookkeeping covers sidecars exactly
    * like data files. Deletion vectors are capped small, so coalesce(1)
    * is a driver-bounded write, not a scale hazard. */
  private def stageDv(keys: DataFrame): String = {
    val rel = s"data/${java.util.UUID.randomUUID().toString}"
    val out = new Path(s"$dir/$rel")
    keys.coalesce(1).write.mode("error").parquet(out.toString)
    val part = fs.listStatus(out).map(_.getPath.getName)
      .find(_.startsWith("part-")).getOrElse(throw new IllegalStateException(
        s"deletion-vector write at $out produced no part file"))
    s"$rel/$part"
  }

  /** The optimistic-concurrency retry loop the commit protocol's
    * lost-update check demands, packaged: derive the merge source FROM
    * the current snapshot, commit CAS-pinned to it, and when a
    * concurrent writer lands first (the commit retracts and throws)
    * RE-DERIVE from the fresh snapshot and try again — so the final
    * state reflects both writers, serialized. `deriveSource` must be a
    * pure function of the snapshot it is given; the attempt that
    * succeeds is the one whose derivation saw every earlier commit.
    * Throws the last [[ConcurrentModificationException]] after
    * `maxAttempts` lost races (pathological contention — callers
    * should back off, not spin). */
  def mergeWith(deriveSource: DataFrame => DataFrame, maxAttempts: Int = 3,
      tag: String = ""): Long = {
    require(maxAttempts >= 1, "need at least one attempt")
    var last: ConcurrentModificationException = null
    for (_ <- 1 to maxAttempts) {
      val base = currentVersion
      try return merge(deriveSource(read()), expectedVersion = base, tag = tag)
      catch { case e: ConcurrentModificationException => last = e }
    }
    throw last
  }
}

object SnapshotTable {

  /** The largest changed-key set a keyed commit records inline in its
    * manifest — about 40 KB of header at 20-byte keys. */
  private val RecordedKeysMax = 2048

  /** Key types whose values [[SnapshotTable]]'s stats encoding holds
    * exactly, so a recorded key decodes back to the value it came from. */
  private def recordable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | StringType => true
    case _ => false
  }

  /** True iff `df`'s plan PROVABLY produces zero rows: an empty
    * [[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]] or a
    * `LIMIT 0`, looked for through the row-count-preserving (or only
    * row-dropping) unary operators staging actually composes —
    * projections, filters, repartitions, sorts, aliases. Conservative
    * by construction: anything unrecognized (a global aggregate can
    * mint a row from nothing) answers false and stages normally. */
  private[incremental] def provablyEmpty(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical._
    def zeroLimit(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case Literal(v: Int, IntegerType) => v == 0
        case _ => false
      }
    def walk(p: LogicalPlan): Boolean = p match {
      case l: LocalRelation => l.data.isEmpty
      case g: GlobalLimit => zeroLimit(g.limitExpr) || walk(g.child)
      case l: LocalLimit => zeroLimit(l.limitExpr) || walk(l.child)
      case p: Project => walk(p.child)
      case f: Filter => walk(f.child)
      case r: RepartitionOperation => walk(r.child)
      case s: SubqueryAlias => walk(s.child)
      case s: Sort => walk(s.child)
      case _ => false
    }
    walk(df.queryExecution.logical)
  }
  /** One schema change for [[SnapshotTable.alterColumns]] — the unit
    * the atomic multi-change ALTER composes. */
  sealed trait SchemaChange
  final case class Rename(oldName: String, newName: String) extends SchemaChange
  final case class Drop(name: String) extends SchemaChange
  final case class Add(name: String, dataType: DataType) extends SchemaChange
  final case class Widen(name: String, to: DataType) extends SchemaChange

  /** What [[SnapshotTable.batchScanParts]] hands the native columnar
    * scan: the snapshot's unpruned [[GraftFileIndex]], the files'
    * PHYSICAL schema, the column mapping (logical → physical) for name
    * translation, and the LOGICAL columns runtime filters can prune on. */
  final case class BatchParts(
      index: GraftFileIndex, physSchema: StructType,
      colmap: Map[String, String], prunable: Seq[String])

  /** The key column RECORDED at `dir`'s newest committed manifest
    * (`#key` header) — the catalog-resolution probe: a table path alone
    * is enough to construct a working keyed handle. None when no
    * committed manifest exists or the table predates the header. The
    * probe handle is throwaway (manifest reads only, no data plan). */
  def keyAt(spark: SparkSession, dir: String): Option[String] = {
    val probe = new SnapshotTable(spark, dir, key = "_graft_key_probe_")
    if (!probe.exists) None else probe.recordedKey
  }
}

/** The manifest-backed file index behind every `SnapshotTable` read:
  * [[SnapshotTable.scan]], [[SnapshotTable.read]], the ranged and keyed
  * readers, the change feed's sides, a write's survivor pass, and the
  * SQL catalog's native columnar scan (Spark's `ParquetScan`, which
  * takes a [[PartitioningAwareFileIndex]] — hence the base class).
  * Spark's planner hands `listFiles` the data filters it pushed toward
  * the scan; they translate to `sources.Filter`s exactly as Spark
  * translates pushdown for any data source, and `keep` — the table's
  * one pruning proof (`SnapshotTable.disjoint`) over PHYSICAL names —
  * returns the files no filter rules out. [[narrowed]] applies the same
  * prune ahead of planning: the columnar scan's pushed filters, then a
  * runtime filter's narrower index over static ∪ runtime filters. An
  * untranslatable filter proves nothing (conservative keep), and Spark
  * still evaluates every filter on the rows, so pruning is a pure
  * optimization.
  *
  * Equal by (root, set of file paths) — the rule Spark's own
  * `InMemoryFileIndex` uses — so two reads of the same files plan
  * `sameResult`: a persisted read serves the next one from the cache,
  * and exchange reuse sees through separate reads. The files are
  * immutable, so the same paths always hold the same rows. */
final class GraftFileIndex(
    spark: SparkSession,
    private val root: org.apache.hadoop.fs.Path,
    files: Seq[org.apache.hadoop.fs.FileStatus],
    keep: Seq[org.apache.spark.sql.sources.Filter] => Seq[org.apache.hadoop.fs.FileStatus])
  extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitionSpec}

  /** TWO paths on purpose: Spark's v1 `INSERT INTO` path
    * (InsertIntoHadoopFsRelationCommand) would otherwise write parquet
    * straight into the table ROOT — bytes no manifest references, so
    * the "inserted" rows silently never appear in any read (data loss,
    * probed on this exact Spark). The engine refuses multi-path
    * relations with UNSUPPORTED_INSERT.MULTI_PATH, so a second
    * self-describing sentinel path turns that silent loss into a loud
    * analysis error naming the right route. Reads never consult
    * rootPaths — every member below serves from `files` — so this is
    * write-rejection only. */
  override def rootPaths: Seq[Path] =
    Seq(root, new Path(root,
      "_graft_inserts_not_supported_use_df.write.format_graft-snapshot"))
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  // the base class serves allFiles (and through it listFiles,
  // inputFiles and sizeInBytes) by looking each rootPath up in
  // leafDirToChildrenFiles, where a table root resolves zero files:
  // data files sit under data/<commit-uuid>/. Every such member is
  // served from the manifest's statuses instead.
  override def allFiles(): Seq[FileStatus] = files
  override protected lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = () // snapshot-pinned: immutable file set

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = keep(dataFilters.flatMap(org.apache.spark.sql.graft.GraftSqlShim.translateFilter))
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  /** The index over just the files `filters` (PHYSICAL names) keep; its
    * own listings prune on top of them. */
  def narrowed(filters: Seq[org.apache.spark.sql.sources.Filter]): GraftFileIndex =
    if (filters.isEmpty) this
    else new GraftFileIndex(spark, root, keep(filters), more => keep(filters ++ more))

  private lazy val paths: Set[Path] = files.map(_.getPath).toSet

  override def equals(other: Any): Boolean = other match {
    case o: GraftFileIndex => root == o.root && paths == o.paths
    case _ => false
  }
  override def hashCode(): Int = (root, paths).hashCode()
}
