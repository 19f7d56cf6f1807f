package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources
import TestSpark._

class SourcesSpec extends AnyFunSuite {

  test("csv, json, and orc round-trip with explicit schema (no inference)") {
    val base = TestSpark.tempDir("graft-src").toString
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "n_chars")
    df.write.option("header", "true").csv(s"$base/csv")
    df.write.json(s"$base/json")
    df.write.orc(s"$base/orc")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    assertSameRows(df, Sources.readTable(spark, s"$base/csv", "csv", Some(schema)))
    assertSameRows(df, Sources.readTable(spark, s"$base/json", "json", Some(schema)))
    assertSameRows(df, Sources.readTable(spark, s"$base/orc", "orc"))
  }

  test("jsonl ingest splits good rows from quarantined corrupt lines, losslessly") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("graft-jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world"}""",
      """{"doc_id": 2, "text": "ok"}""",
      """{"doc_id": broken no quotes}""", // malformed JSON
      """not json at all""",
      """{"doc_id": 3, "text": "fine"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part0.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val split = graft.sources.Sources.jsonlIngest(spark, dir, schema)
    try {
      assert(split.good.columns.toSeq == Seq("doc_id", "text"),
        "capture column must not leak into the good split")
      assert(split.good.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L, 3L))
      val raw = split.quarantine.collect().map(_.getString(0)).sorted.toSeq
      assert(raw == Seq("""not json at all""", """{"doc_id": broken no quotes}"""),
        s"quarantine must carry the exact raw lines, got $raw")
      assert(split.good.count() + split.quarantine.count() == lines.size,
        "ingest must be lossless: every line lands in exactly one split")
    } finally {
      // the returned handle releases the SHARED cache (unpersisting the
      // derived frames would not)
      split.unpersist()
    }
  }

  test("clustered write yields disjoint per-file key ranges and selective scans skip files") {
    val base = TestSpark.tempDir("graft-cluster").toString + "/orders"
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    Sources.clusteredWrite(orders, base, "o_orderdate", numFiles = 8)

    // per-file min/max of the cluster key must tile without overlap —
    // the property parquet footer stats turn into file/row-group skipping
    val perFile = spark.read.parquet(base)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
      .collect()
      // o_orderdate is TIMESTAMP_NTZ → rows carry LocalDateTime
      .map(r => (r.getAs[java.time.LocalDateTime](1),
        r.getAs[java.time.LocalDateTime](2)))
      .sortBy(_._1.toString)
    assert(perFile.length > 1)
    perFile.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(!lo.isBefore(hi), s"file ranges overlap: $hi vs $lo")
    }

    // the narrow predicate must reach the parquet reader as a pushed
    // filter — with the disjoint sorted layout above, footer min/max
    // stats then skip every non-matching row group / file inside the
    // reader (Spark surfaces no skip-count metric; pushdown + layout
    // are the two observable halves of the contract)
    val narrow = spark.read.parquet(base)
      .filter(col("o_orderdate") === lit(perFile.head._1))
    val plan = narrow.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.matches("(?s).*PushedFilters.*EqualTo\\(o_orderdate.*"),
      s"cluster-key filter not pushed:\n$plan")
  }

  test("z-ordered write localizes BOTH dimensions; 1-D clustering localizes one") {
    val base = TestSpark.tempDir("graft-zorder").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts").cast("double").as("tsd"))

    Sources.zOrderedWrite(events, s"$base/z", "user_id", "tsd", numFiles = 16)
    Sources.clusteredWrite(events, s"$base/oneD", "tsd", numFiles = 16)

    // per-file bounding box, normalized by the global range: the mean
    // per-file extent is the locality measure parquet min/max skipping
    // actually sees
    def meanExtent(path: String, c: String): Double = {
      val df = spark.read.parquet(path)
        .select(col(c), input_file_name().as("f"))
      val g = df.agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
      val per = df.groupBy(col("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("ext"))
        .agg(avg(col("ext"))).head().getDouble(0)
      per / g
    }

    val zU = meanExtent(s"$base/z", "user_id")
    val zT = meanExtent(s"$base/z", "tsd")
    val dU = meanExtent(s"$base/oneD", "user_id")
    val dT = meanExtent(s"$base/oneD", "tsd")
    // 1-D: near-perfect on the clustered dim, none on the other
    assert(dT < 0.2, s"1-D ts extent $dT")
    assert(dU > 0.8, s"1-D user extent $dU (should be unlocalized)")
    // z-order: BOTH dims meaningfully localized — each file's box is a
    // fraction of the space, so predicates on either column skip files
    assert(zU < 0.6 && zT < 0.6, s"z extents user=$zU ts=$zT")
    assert(zU < dU * 0.7, s"z must beat 1-D on the unclustered dim: $zU vs $dU")
    // rows survive the layout change
    assert(spark.read.parquet(s"$base/z").count() === events.count())
  }

  test("partitioned sink upsert rewrites only touched partitions") {
    val base = TestSpark.tempDir("graft-sink").toString + "/summary"
    val sink = new Sources.PartitionedSink(spark, base, "week_beginning")
    val initial = ops.WeeklySummary.snapshot(
      Tables.rental(spark, "/root/testdata/sf0.001"), SparkEntry.AsOf)
    sink.upsert(initial)
    val nYears = sink.read().select("part_year").distinct().count()
    assert(nYears >= 3)

    // record on-disk state per partition dir
    def files(): Map[String, Set[String]] =
      new java.io.File(base).listFiles().filter(_.getName.startsWith("part_year="))
        .map(d => d.getName -> d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet)
        .toMap
    val before = files()

    // upsert one modified 1999 row
    val delta = initial.filter(year(col("week_beginning")) === 1999).limit(1)
      .withColumn("newly_rented_during_week", lit(999L))
    sink.upsert(delta)
    val after = files()

    assert(before.keySet == after.keySet)
    before.keySet.filterNot(_ == "part_year=1999").foreach { y =>
      assert(before(y) == after(y), s"untouched partition $y was rewritten")
    }
    assert(before("part_year=1999") != after("part_year=1999"))

    // content: the modified row upserted, everything else intact
    val out = sink.read()
    assert(out.count() == initial.count())
    assert(out.filter(col("newly_rented_during_week") === 999L).count() == 1)
  }

  test("compaction shrinks file count, preserves rows, and swaps atomically") {
    val base = TestSpark.tempDir("graft-compact").toString + "/t"
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "n_chars")
    df.repartition(20).write.parquet(base) // simulate small-file accretion
    val before = new java.io.File(base).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 15, s"expected many small files, got $before")
    Sources.compact(spark, base, targetBytes = 1L << 20)
    val after = new java.io.File(base).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after < before / 3, s"compaction left $after files (was $before)")
    assertSameRows(df, spark.read.parquet(base))
    // no leftover temp/trash dirs
    assert(!new java.io.File(base + ".compact").exists)
    assert(!new java.io.File(base + ".old").exists)
  }

  test("partition retention deletes expired years without touching survivors") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val base2 = TestSpark.tempDir("graft-expire").toString + "/sink"
    val sink2 = new Sources.PartitionedSink(spark, base2, "o_orderkey")
    sink2.upsert(orders, _ => year(col("o_orderdate")))
    val years = spark.read.parquet(base2).select("part_year").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(years.length >= 3)
    val cutoff = years(1) + 1 // expire the two oldest years
    val removed = sink2.expire(cutoff)
    assert(removed === years.filter(_ < cutoff).toSeq)
    val left = spark.read.parquet(base2).select("part_year").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(left.toSeq === years.filter(_ >= cutoff).toSeq)
    // surviving rows byte-identical semantics: count matches the filter
    assert(spark.read.parquet(base2).count() ===
      orders.filter(year(col("o_orderdate")) >= cutoff).count())
  }

  test("events ingest is schema-adaptive: int64-nanos, timestamp[us], timestamp[ns] all yield identical rows") {
    // The harness regenerated /root/testdata mid-round-6 and flipped
    // events.ts from INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS), killing
    // every events query for two rounds. This pins the F5 "lenient
    // timestamp coercion" contract at INGEST level: the same logical rows
    // written under three physical encodings must load identically through
    // Tables.events. Fixtures are written with the parquet example API
    // (Spark itself cannot author a NANOS-annotated file).
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation.TimeUnit

    // micros with a sub-microsecond tail in the nanos encodings: pins the
    // truncation (not rounding) semantics the oracles' ts::TIMESTAMP uses
    val rowsMicros = Seq(
      (1L, 1700000000123456L, 10L, "click", 1.5, """{"k":1}"""),
      (2L, 1700000007654321L, 11L, "view", 2.5, """{"k":2}"""),
      (3L, 1700000099999999L, 10L, "click", 0.0, """{"k":3}"""))

    def writeEvents(dir: String, anno: Option[LogicalTypeAnnotation],
        toPhysical: Long => Long): Unit = {
      val tsType = anno.fold(Types.optional(INT64).named("ts"))(a =>
        Types.optional(INT64).as(a).named("ts"))
      val schema = Types.buildMessage()
        .optional(INT64).named("event_id")
        .addField(tsType)
        .optional(INT64).named("user_id")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
        .optional(DOUBLE).named("value")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
        .named("events")
      val factory = new SimpleGroupFactory(schema)
      val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withConf(spark.sparkContext.hadoopConfiguration)
        .withType(schema)
        .build()
      try rowsMicros.foreach { case (id, us, uid, typ, v, props) =>
        val g = factory.newGroup()
        g.add("event_id", id); g.add("ts", toPhysical(us)); g.add("user_id", uid)
        g.add("event_type", typ); g.add("value", v); g.add("props", props)
        writer.write(g)
      } finally writer.close()
    }

    val base = TestSpark.tempDir("graft-events-enc").toString
    val dirs = Seq(
      ("int64_nanos", None, (us: Long) => us * 1000 + 789),
      ("ts_us", Some(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)),
        (us: Long) => us),
      ("ts_ns", Some(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)),
        (us: Long) => us * 1000 + 789))
    dirs.foreach { case (name, anno, f) =>
      val d = s"$base/$name"; new java.io.File(d).mkdirs(); writeEvents(d, anno, f)
    }
    // Exercise the PARQUET_TYPE_ILLEGAL retry path, not a conf left on by
    // an earlier read in this shared session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val loaded = dirs.map { case (name, _, _) =>
      name -> Tables.events(spark, s"$base/$name")
    }
    loaded.foreach { case (name, df) =>
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"$name: ts must load as TimestampType, got ${df.schema("ts").dataType}")
    }
    val collected = loaded.map { case (name, df) => name -> collectSorted(df) }
    val (refName, refRows) = collected.head
    collected.tail.foreach { case (name, rows) =>
      assert(rows == refRows,
        s"$name rows differ from $refName:\n  $rows\n  vs\n  $refRows")
    }
    // and the wall-clock values are the expected micros under UTC
    val got = loaded.head._2.select("ts").collect()
      .map(_.getTimestamp(0).getTime).sorted // millis precision check
    assert(got.toSeq == rowsMicros.map(_._2 / 1000).sorted,
      s"unexpected wall-clock millis: ${got.toSeq}")
  }

  test("reading one partition prunes the others (PartitionFilters)") {
    val base = TestSpark.tempDir("graft-sink2").toString + "/summary"
    val sink = new Sources.PartitionedSink(spark, base, "week_beginning")
    sink.upsert(ops.WeeklySummary.snapshot(
      Tables.rental(spark, "/root/testdata/sf0.001"), SparkEntry.AsOf))
    val q = sink.read().filter(col("part_year") === 1999)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.matches("(?s).*PartitionFilters.*part_year.*"), s"no partition pruning:\n$plan")
  }
}
