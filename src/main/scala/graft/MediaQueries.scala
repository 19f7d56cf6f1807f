package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_replace, translate}


/** the multimodal surface over synthetic media payloads: decode tiers, dedup, perceptual near-dup — the `Media` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object MediaQueries {


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- multimodal binary-column plumbing (synthetic media over documents)
    "media_stats" -> ((s, dir) =>
      graft.multimodal.Multimodal.mediaStats(
        graft.multimodal.Multimodal.syntheticMedia(Tables.documents(s, dir)))),

    // a simulated re-ingest (doc_id≡3 mod 7 re-keyed +10000) plants the
    // duplicate payloads — the raw corpus has none, and an identity
    // result would leave the dedup untested (same device as corpus_diff)
    "media_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val media = graft.multimodal.Multimodal.syntheticMedia(docs)
      val reingest = graft.multimodal.Multimodal
        .syntheticMedia(docs.filter(col("doc_id") % 7 === 3))
        .withColumn("media_id", col("media_id") + 10000)
      graft.multimodal.Multimodal.mediaDedup(media.unionByName(reingest))
    }),

    "media_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val media = graft.multimodal.Multimodal.syntheticMedia(docs)
      val reingest = graft.multimodal.Multimodal
        .syntheticMedia(docs.filter(col("doc_id") % 7 === 3))
        .withColumn("media_id", col("media_id") + 10000)
      graft.multimodal.Multimodal.mediaNearDupFrames(media.unionByName(reingest))
    }),

    // perceptual frame near-dup: the re-ingested copies pass through a
    // brightness-shift re-encode (every letter +1 ASCII — an
    // order-preserving byte map), so every frame md5 differs while byte
    // GRADIENTS are untouched; only the dHash variant pairs them
    "media_neardup_dhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val media = graft.multimodal.Multimodal.syntheticMedia(docs)
      val reenc = graft.multimodal.Multimodal
        .syntheticMedia(docs.filter(col("doc_id") % 7 === 3)
          .withColumn("text", translate(col("text"),
            "abcdefghijklmnopqrstuvwxyz", "bcdefghijklmnopqrstuvwxyz{")))
        .withColumn("media_id", col("media_id") + 10000)
      graft.multimodal.Multimodal
        .mediaNearDupPerceptual(media.unionByName(reenc))
    }),

    // Hamming-banded perceptual near-dup: the re-encode writes one noisy
    // byte per 64 (regex: last char of every 64-block -> 'z'), flipping
    // <=1 dHash gradient bit per frame — exact-key dHash matching loses
    // half the frames (jaccard ~0.33, below threshold), the banded
    // hamming<=3 arm still pairs every copy with its original
    "media_neardup_hamming" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val media = graft.multimodal.Multimodal.syntheticMedia(docs)
      val noisy = graft.multimodal.Multimodal
        .syntheticMedia(docs.filter(col("doc_id") % 7 === 3)
          .withColumn("text", regexp_replace(col("text"), "(.{63}).", "$1z")))
        .withColumn("media_id", col("media_id") + 10000)
      graft.multimodal.Multimodal
        .mediaNearDupHamming(media.unionByName(noisy))
    }),

    // decode path goes through the stubbed codec; the projected columns
    // (type/bytes/FNV-1a checksum) are deterministic byte math the DuckDB
    // oracle replays — feature vectors stay spec-pinned (MultimodalSpec)
    "media_features" -> ((s, dir) =>
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.syntheticMedia(Tables.documents(s, dir)))
        .toDF().select(col("media_id"), col("media_type"), col("n_bytes"), col("checksum"))),

    // binary frame slicing runs on the payload BYTES; the compared output
    // is md5 checksums (binary columns have engine-specific display forms)
    "media_frames" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{length => flen, md5 => fmd5}
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.syntheticMedia(Tables.documents(s, dir)))
        .select(col("media_id"), col("media_type"), col("frame_index"),
          flen(col("frame")).as("n_frame_bytes"), fmd5(col("frame")).as("frame_md5"))
    }),

    // resize through the stub codec: gather math is integer-exact, so the
    // oracle replays it; compared via checksum like media_frames
    "media_resize" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{length => flen, md5 => fmd5}
      graft.multimodal.Multimodal.resize(
        graft.multimodal.Multimodal.syntheticMedia(Tables.documents(s, dir)), 320, 180)
        .toDF()
        .select(col("media_id"), col("meta.media_type").as("media_type"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          flen(col("payload")).cast("int").as("n_bytes"),
          fmd5(col("payload")).as("payload_md5"))
    })
  )

  val oracles: Map[String, String] = Map(

    "media_stats" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |         (['image','audio','video'])[(doc_id % 3 + 1)::int] AS media_type,
         |         ((doc_id % 8) * 160 + 320)::int AS width,
         |         (length(text) // 10 + 1)::int AS n_frames,
         |         encode(text) AS payload
         |  FROM documents)
         |SELECT media_type,
         |  COUNT(*) AS n_media,
         |  CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
         |  MAX(width) AS max_width,
         |  round(CAST(SUM(n_frames) AS BIGINT)::DOUBLE / COUNT(*), 6) AS avg_frames
         |FROM m GROUP BY 1""".stripMargin,

    // The stub decoder's checksum is plain FNV-1a 64 over the payload
    // bytes (Multimodal.FakeDecoder) — deterministic byte math, so DuckDB
    // replays the fold exactly: the corpus is ASCII (unicode(char) = byte),
    // the accumulator lives in HUGEINT mod 2^64 (BIGINT would overflow on
    // the ×0x100000001b3), xor touches only the low 8 bits (b < 256), and
    // the final value re-wraps to signed 64-bit to match Spark's Long.
    "media_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[(doc_id % 3 + 1)::int] AS media_type,
        |         text
        |  FROM documents),
        |h AS (
        |  SELECT media_id, media_type,
        |         octet_length(encode(text))::INT AS n_bytes,
        |         list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |             list_transform(list_filter(string_split(text, ''), c -> c != ''),
        |               c -> unicode(c)::HUGEINT)),
        |           (acc, b) -> ((xor(acc % 256, b) + acc - (acc % 256))
        |                        * 1099511628211::HUGEINT)
        |                       % 18446744073709551616::HUGEINT) AS hh
        |  FROM m)
        |SELECT media_id, media_type, n_bytes,
        |  (CASE WHEN hh >= 9223372036854775808::HUGEINT
        |        THEN hh - 18446744073709551616::HUGEINT ELSE hh END)::BIGINT AS checksum
        |FROM h""".stripMargin,

    // payload = utf-8 bytes of text, so DuckDB's md5(text) (over the
    // string's utf-8 bytes) equals Spark's md5(payload) bit-for-bit
    "media_dedup" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS payload_md5,
        |         octet_length(encode(text)) AS n_bytes
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, md5(text), octet_length(encode(text))
        |  FROM documents WHERE doc_id % 7 = 3)
        |SELECT payload_md5, COUNT(*) AS n_copies, MIN(media_id) AS keep_id,
        |  CAST((COUNT(*) - 1) * MIN(n_bytes) AS BIGINT) AS wasted_bytes
        |FROM m GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,

    // the corpus is ASCII (octet_length(encode(text)) = length(text) for
    // every row), so character slicing of text == byte slicing of payload
    "media_neardup" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS media_id, text FROM documents WHERE doc_id % 7 = 3),
        |f AS (SELECT media_id, text, length(text) // 32 AS n_frames FROM m),
        |s AS (SELECT media_id, text,
        |        UNNEST(generate_series(0, greatest(CAST(n_frames AS INT) - 1, 0))) AS i
        |      FROM f),
        |fr AS (SELECT DISTINCT media_id, md5(substr(text, i*32 + 1, 32)) AS h
        |       FROM s WHERE length(substr(text, i*32 + 1, 32)) > 0),
        |sz AS (SELECT media_id, COUNT(*) AS n FROM fr GROUP BY 1),
        |ok AS (SELECT h FROM fr GROUP BY 1 HAVING COUNT(*) <= 100),
        |fx AS (SELECT fr.media_id, fr.h FROM fr JOIN ok USING (h)),
        |sc AS (SELECT a.media_id AS media_a, b.media_id AS media_b, COUNT(*) AS shared
        |       FROM fx a JOIN fx b ON a.h = b.h AND a.media_id < b.media_id
        |       GROUP BY 1, 2)
        |SELECT sc.media_a, sc.media_b, sc.shared, sa.n AS n_a, sb.n AS n_b,
        |       round(shared::double / (sa.n + sb.n - shared), 6) AS frame_jaccard
        |FROM sc JOIN sz sa ON media_a = sa.media_id
        |         JOIN sz sb ON media_b = sb.media_id
        |WHERE round(shared::double / (sa.n + sb.n - shared), 6) >= 0.8""".stripMargin,

    // identical frame/index/jaccard scaffold; the hash is the two-scale
    // integer byte-gradient dHash (bit j: byte j < byte j+1; bit 32+j:
    // byte j < byte j+2), which DuckDB
    // replays exactly via ord() over the ASCII payload — the reingested
    // branch applies the same letter+1 brightness shift as the Spark side
    "media_neardup_dhash" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS media_id,
        |         translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |                   'bcdefghijklmnopqrstuvwxyz{') AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |f AS (SELECT media_id, text, length(text) // 32 AS n_frames FROM m),
        |s AS (SELECT media_id, text,
        |        UNNEST(generate_series(0, greatest(CAST(n_frames AS INT) - 1, 0))) AS i
        |      FROM f),
        |fb AS (SELECT media_id, substr(text, i*32 + 1, 32) AS fs FROM s
        |       WHERE length(substr(text, i*32 + 1, 32)) > 0),
        |fr AS (SELECT DISTINCT media_id,
        |         coalesce(list_sum(list_transform(range(least(length(fs) - 1, 32)),
        |           j -> CASE WHEN ord(substr(fs, j + 1, 1)) < ord(substr(fs, j + 2, 1))
        |                     THEN (1::BIGINT << j) ELSE 0::BIGINT END)), 0)
        |         + coalesce(list_sum(list_transform(range(least(greatest(length(fs) - 2, 0), 30)),
        |           j -> CASE WHEN ord(substr(fs, j + 1, 1)) < ord(substr(fs, j + 3, 1))
        |                     THEN (1::BIGINT << (32 + j)) ELSE 0::BIGINT END)), 0) AS h
        |       FROM fb),
        |sz AS (SELECT media_id, COUNT(*) AS n FROM fr GROUP BY 1),
        |ok AS (SELECT h FROM fr GROUP BY 1 HAVING COUNT(*) <= 100),
        |fx AS (SELECT fr.media_id, fr.h FROM fr JOIN ok USING (h)),
        |sc AS (SELECT a.media_id AS media_a, b.media_id AS media_b, COUNT(*) AS shared
        |       FROM fx a JOIN fx b ON a.h = b.h AND a.media_id < b.media_id
        |       GROUP BY 1, 2)
        |SELECT sc.media_a, sc.media_b, sc.shared, sa.n AS n_a, sb.n AS n_b,
        |       round(shared::double / (sa.n + sb.n - shared), 6) AS frame_jaccard
        |FROM sc JOIN sz sa ON media_a = sa.media_id
        |         JOIN sz sb ON media_b = sb.media_id
        |WHERE round(shared::double / (sa.n + sb.n - shared), 6) >= 0.8""".stripMargin,

    // Replays Multimodal.mediaNearDupHamming: two-scale dHash frames
    // (31 adjacent + 30 skip-2 gradient bits for a 32-byte frame),
    // 4x16-bit band candidates over the 61 populated bits (every band
    // informative AND sparse), bit_count(xor) <= 3 verify, containment
    // scoring.
    "media_neardup_hamming" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS media_id,
        |         regexp_replace(text, '(.{63}).', '\1z', 'g') AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |f AS (SELECT media_id, text, length(text) // 32 AS n_frames FROM m),
        |s AS (SELECT media_id, text,
        |        UNNEST(generate_series(0, greatest(CAST(n_frames AS INT) - 1, 0))) AS i
        |      FROM f),
        |fb AS (SELECT media_id, substr(text, i*32 + 1, 32) AS fs FROM s
        |       WHERE length(substr(text, i*32 + 1, 32)) > 0),
        |fr AS (SELECT DISTINCT media_id,
        |         coalesce(list_sum(list_transform(range(least(length(fs) - 1, 32)),
        |           j -> CASE WHEN ord(substr(fs, j + 1, 1)) < ord(substr(fs, j + 2, 1))
        |                     THEN (1::BIGINT << j) ELSE 0::BIGINT END)), 0)
        |         + coalesce(list_sum(list_transform(range(least(greatest(length(fs) - 2, 0), 30)),
        |           j -> CASE WHEN ord(substr(fs, j + 1, 1)) < ord(substr(fs, j + 3, 1))
        |                     THEN (1::BIGINT << (32 + j)) ELSE 0::BIGINT END)), 0) AS h
        |       FROM fb),
        |sz AS (SELECT media_id, COUNT(*) AS n FROM fr GROUP BY 1),
        |bk AS (SELECT media_id, h, u.b AS b, (h >> (u.b * 16)) & 65535 AS k
        |       FROM fr, UNNEST(generate_series(0, 3)) AS u(b)),
        |okb AS (SELECT b, k FROM bk GROUP BY 1, 2 HAVING COUNT(*) <= 100),
        |bx AS (SELECT bk.media_id, bk.h, bk.b, bk.k FROM bk JOIN okb USING (b, k)),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |         a.h AS ha, b.h AS hb
        |  FROM bx a JOIN bx b ON a.b = b.b AND a.k = b.k
        |                     AND a.media_id < b.media_id),
        |mt AS (
        |  SELECT media_a, media_b, COUNT(DISTINCT ha) AS matched_frames
        |  FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |  GROUP BY 1, 2)
        |SELECT mt.media_a, mt.media_b, mt.matched_frames, sa.n AS n_a, sb.n AS n_b,
        |  round(matched_frames::double / sa.n, 6) AS containment
        |FROM mt JOIN sz sa ON media_a = sa.media_id
        |        JOIN sz sb ON media_b = sb.media_id
        |WHERE round(matched_frames::double / sa.n, 6) >= 0.8""".stripMargin,

    "media_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
        |         text, length(text) // 64 AS n_frames
        |  FROM documents),
        |s AS (
        |  SELECT media_id, media_type, text,
        |         UNNEST(generate_series(0,
        |           greatest(CAST(ceil(n_frames / 4.0) AS INT) - 1, 0))) AS i
        |  FROM f)
        |SELECT media_id, media_type, CAST(i*4 AS INT) AS frame_index,
        |       CAST(length(substr(text, i*4*64 + 1, 64)) AS INT) AS n_frame_bytes,
        |       md5(substr(text, i*4*64 + 1, 64)) AS frame_md5
        |FROM s WHERE length(substr(text, i*4*64 + 1, 64)) > 0""".stripMargin,

    "media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
        |         text, length(text) AS n,
        |         ((doc_id % 8)*160 + 320) * ((doc_id % 8)*90 + 180) AS orig
        |  FROM documents),
        |r AS (
        |  SELECT media_id, media_type, text, n,
        |    CASE WHEN n = 0 THEN 0
        |         WHEN 320*180 >= orig THEN n
        |         ELSE greatest(1, (n * (320*180)) // orig) END AS mm
        |  FROM m)
        |SELECT media_id, media_type, 320 AS width, 180 AS height,
        |  CAST(mm AS INT) AS n_bytes,
        |  md5(array_to_string(list_transform(
        |    generate_series(0, CAST(mm AS INT) - 1),
        |    j -> substr(text, CAST((j*n) // mm AS INT) + 1, 1)), '')) AS payload_md5
        |FROM r""".stripMargin
  )
}
