package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, IncrementalRun, SparkEntry}
import graft.incremental.{IncrementalWeeklySummary, SnapshotTable}

/** JVM side of the benchmark: runs one workload as a closed loop with one
  * client on `local[n]`, times each call into the program, and writes
  * `result.json` (plus the check data the Python side compares) to the work
  * directory. Inputs come from `gen.py`; this file never generates data.
  *
  * Usage: graftbench.PerfBench <workload> <workDir> <cores> <seconds> <trace 0|1>
  */
object PerfBench {

  final class Run(val spark: SparkSession, val work: String, val cores: Int,
      val seconds: Double, val traced: Boolean) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val extra = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var trace: Option[Trace] = None
    var setupEndMs = 0L
    var timedEndMs = 0L

    /** Time one call; a throw is recorded as a failed op, never dropped. */
    def timed(kind: String, name: String)(body: (() => Unit) => Unit): Op = {
      val id = ops.size + 1
      spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
      val t0 = System.currentTimeMillis()
      var built = t0
      val ok = try { body(() => built = System.currentTimeMillis()); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        false
      } finally spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
      val op = Op(id, kind, name, t0, System.currentTimeMillis(), built, ok)
      ops += op
      op
    }

    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, coresS, secondsS, traceS) = args
    val cores = coresS.toInt
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, cores, secondsS.toDouble, traceS == "1")
    val failedSetup =
      try {
        workload match {
          case "query_mix" => QueryMix(run)
          case "etl_cdc" => EtlCdc(run)
          case "store_churn" => StoreChurn(run)
          case other => sys.error(s"unknown workload $other")
        }
        None
      } catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    val m = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores,
      "setup_end_ms" -> run.setupEndMs, "timed_end_ms" -> run.timedEndMs, "peak_rss_mb" -> Trace.peakRssMb,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    failedSetup.foreach(e => m("error") = e)
    val opsJson = run.ops.map(o => Trace.json(Map("kind" -> o.kind, "name" -> o.name,
      "ms" -> (o.endMs - o.startMs), "ok" -> o.ok))).mkString("[", ",", "]")
    val extraJson = Trace.json(run.extra.toMap)
    val layerJson = Trace.json(run.layers.toMap)
    Files.writeString(Paths.get(s"$work/result.json"),
      Trace.json(m.toMap).dropRight(1) +
        s""","ops":$opsJson,"extra":$extraJson,"layers":$layerJson}""" + "\n")
    spark.stop()
  }

  /** Start tracing (traced run only) and the JVM counters, right before the
    * first timed op; everything before this point is set-up. */
  def startTimed(run: Run): Unit = {
    if (run.traced) run.trace = Some(new Trace(run.spark, run.cores))
    Trace.resetHeapPeak()
    run.layers("jvm.gc_ms") = -Trace.gcMs
    run.layers("jvm.jit_ms") = -Trace.jitMs
    run.layers("codegen.compile_ms") = -Trace.codegenMs
    run.layers("codegen.compiles") = -Trace.codegenCompiles
    run.setupEndMs = System.currentTimeMillis()
  }

  def endTimed(run: Run): Unit = {
    run.timedEndMs = System.currentTimeMillis()
    run.layers("jvm.gc_ms") += Trace.gcMs
    run.layers("jvm.jit_ms") += Trace.jitMs
    run.layers("codegen.compile_ms") += Trace.codegenMs
    run.layers("codegen.compiles") += Trace.codegenCompiles
    run.layers("jvm.heap_peak_mb") = Trace.heapPeakMb
    run.trace.foreach(t => t.summarize(run.ops.toSeq, s"${run.work}/spans.jsonl")
      .foreach { case (k, v) => run.layers(k) = v })
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)

  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Bytes of the files the current snapshot references. */
  def liveBytes(t: SnapshotTable): Long =
    t.scan().inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum

  // ------------------------------------------------------------ query_mix

  /** queries.txt: the session, one name per line, in run order. The timed
    * ops are whole passes over the session on the sf0.1 tables in `sf`.
    * Then, untimed, each session query runs once over the sf0.01 instance in
    * `check` and its result is written for the DuckDB oracle compare (the
    * repo's own oracle runs use sf0.01 too; several oracles are quadratic
    * in DuckDB). */
  object QueryMix {
    def apply(run: Run): Unit = {
      val session = lines(s"${run.work}/queries.txt")
      val queries = SparkEntry.queries
      startTimed(run)
      val t0 = System.nanoTime()
      var i = 0
      while (i % session.size != 0 || (System.nanoTime() - t0) / 1e9 < run.seconds) {
        val name = session(i % session.size)
        run.hygiene()
        run.timed("query", name) { mark =>
          if (!queries.contains(name)) sys.error(s"no query named $name")
          val df = queries(name)(run.spark, s"${run.work}/sf")
          mark()
          df.write.format("noop").mode("overwrite").save()
        }
        i += 1
      }
      endTimed(run)
      session.distinct.filter(queries.contains).foreach { name =>
        try queries(name)(run.spark, s"${run.work}/check").coalesce(1).write.mode("overwrite")
          .parquet(s"${run.work}/results/$name")
        catch { case e: Throwable => System.err.println(s"[perfbench] check $name: $e") }
      }
      Files.writeString(Paths.get(s"${run.work}/results/oracle_sql.json"),
        Trace.json(SparkEntry.oracleSql.filter(kv => session.contains(kv._1))))
    }
  }

  // ------------------------------------------------------------ etl_cdc

  /** batches.txt: one `sfDir<TAB>block` per line, the backfill first. Each op is one
    * scheduled `IncrementalRun.main(batchDir, stateDir)`. After each op,
    * untimed, the committed summary and watermark go to `observed.jsonl`. */
  object EtlCdc {
    def apply(run: Run): Unit = {
      val (batches, blocks) = lines(s"${run.work}/batches.txt").map { l =>
        val Array(d, b) = l.split("\t"); (d, b.toInt)
      }.unzip
      val state = s"${run.work}/state"
      val obs = new java.io.PrintWriter(s"${run.work}/observed.jsonl")
      val report = """.*deltaRows=(\d+) affectedWeeks=(\d+) processed=(\w+).*""".r
      startTimed(run)
      var t0 = System.nanoTime()
      var i = 0
      var summaryWeeks = 0L
      // the backfill (op 0) is timed on its own; the run length covers the
      // scheduled runs after it
      while (i < batches.size && (i < 2 || blocks(i) == blocks(i - 1) ||
          (System.nanoTime() - t0) / 1e9 < run.seconds)) {
        if (i == 1) t0 = System.nanoTime()
        val captured = new java.io.ByteArrayOutputStream()
        run.hygiene()
        val op = run.timed(if (i == 0) "backfill" else "run", s"b$i") { _ =>
          Console.withOut(captured)(IncrementalRun.main(Array(batches(i), state)))
        }
        val text = captured.toString("UTF-8")
        text.linesIterator.foreach {
          case report(d, a, p) if i > 0 =>
            run.layers("etl.delta_rows") += d.toDouble
            run.layers("etl.affected_weeks") += a.toDouble
            if (p == "false") run.layers("etl.noop_runs") += 1
          case l if l.contains("maintenance: compacted") => run.layers("etl.compactions") += 1
          case _ =>
        }
        val tbl = IncrementalWeeklySummary.summaryTable(run.spark, state)
        val rows = if (!op.ok || !tbl.exists) Nil else tbl.read().select(
          datediff(col("week_beginning"), lit("1970-01-01")).as("d"),
          col("newly_rented_during_week"), col("ReturnedRentals"),
          col("net_change_in_outstanding"), col("OutstandingRentals"))
          .collect().toSeq.map(r => (0 until 5).map(r.getAs[Number](_).longValue))
        if (i > 0) summaryWeeks += rows.size
        val wm = IncrementalWeeklySummary.watermark(run.spark, state)
        val summary = rows.sortBy(_.head).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
        obs.println(s"""{"batch":$i,"ok":${op.ok},"watermark_ms":${wm.getTime},"summary":$summary}""")
        i += 1
      }
      obs.close()
      endTimed(run)
      run.layers("etl.recompute_frac") =
        if (summaryWeeks > 0) run.layers("etl.affected_weeks") / summaryWeeks else 0
      val tbl = IncrementalWeeklySummary.summaryTable(run.spark, state)
      run.extra("backfill_s") = run.ops.find(_.kind == "backfill")
        .map(o => (o.endMs - o.startMs) / 1000.0).getOrElse(0.0)
      run.extra("space_amp") = du(tbl.location).toDouble / liveBytes(tbl)
      storeShape(run, tbl)
    }
  }

  def storeShape(run: Run, t: SnapshotTable): Unit = {
    val h = t.history
    run.layers("store.live_files") = h.last._4
    run.layers("store.live_versions") = h.size
  }

  // ------------------------------------------------------------ store_churn

  /** seed.parquet is the table of record, ops.jsonl the seeded op mix in
    * blocks. A change-feed mirror (SnapshotTableProvider readStream ->
    * cdc-mode writeStream) runs throughout. Reads are forced by an
    * order-free fingerprint aggregate, which the Python side checks against
    * the model. */
  object StoreChurn {
    val Cols = Seq("rental_id", "rental_date", "inventory_id", "customer_id",
      "return_date", "staff_id", "last_update")

    def fingerprint(df: DataFrame): Seq[Long] = {
      val secs = (c: String) => coalesce(unix_seconds(col(c)), lit(-1L))
      val r = df.agg(count(lit(1)), Cols.map(c =>
        sum(if (Set("rental_date", "return_date", "last_update")(c)) secs(c)
          else col(c).cast("long"))): _*).head()
      (0 until 8).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }

    def apply(run: Run): Unit = {
      val spark = run.spark
      val dir = s"${run.work}/store"
      val mirrorDir = s"${run.work}/mirror"
      CountingFs.root = dir
      val tbl = new SnapshotTable(spark, dir, "rental_id", statsColumns = Seq("rental_date"))
      val seed = spark.read.parquet(s"${run.work}/seed.parquet")
      // source and mirror start from the same seed; the stream then carries
      // every change after the seed version
      val v0 = tbl.create(seed)
      val mirror = new SnapshotTable(spark, mirrorDir, "rental_id")
      mirror.create(seed)
      val q = spark.readStream.format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", dir).option("key", "rental_id").option("startingVersion", v0.toString)
        .load()
        .writeStream.format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", mirrorDir).option("key", "rental_id").option("mode", "cdc")
        .option("checkpointLocation", s"${run.work}/ckpt").start()
      val applied = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      // (source version covered, time) per stream progress event
      val lagListener = new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
            .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
            .foreach(v => applied.add((v, System.currentTimeMillis())))
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(lagListener)
      q.processAllAvailable()
      val ops = lines(s"${run.work}/ops.jsonl")
      val obs = new java.io.PrintWriter(s"${run.work}/observed.jsonl")
      val commits = mutable.ArrayBuffer.empty[(Long, Long)]
      val fs = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      var batchBytes = 0L
      var bytesWritten = 0L
      var scanned, live = 0.0
      startTimed(run)
      val t0 = System.nanoTime()
      var i = 0
      val parsed = ops.map(Json.parse)
      // whole blocks, so every run times the same op mix
      while (i < ops.size && (i == 0 || parsed(i)("block") == parsed(i - 1)("block") ||
          (System.nanoTime() - t0) / 1e9 < run.seconds)) {
        val op = parsed(i)
        val kind = op("op").asInstanceOf[String]
        def keys(f: String) = spark.createDataFrame(
          op(f).asInstanceOf[Seq[Any]].map(k => Tuple1(k.asInstanceOf[Number].longValue)))
          .toDF("rental_id")
        def batch = spark.read.parquet(s"${run.work}/${op("file")}")
        val (reads0, lists0) = (CountingFs.reads.get, CountingFs.lists.get)
        val filesBefore = if (run.traced) dataFiles(dir) else Map.empty[String, Long]
        var fp: Seq[Long] = Nil
        var frame: Option[DataFrame] = None
        val o = run.timed(kind, s"op$i") { _ =>
          kind match {
            case "merge" => tbl.merge(batch)
            case "apply_delta" => tbl.applyDelta(batch, keys("delete_keys"))
            case "delete" => tbl.delete(keys("keys"))
            case "read_keys" => frame = Some(tbl.readKeys(keys("keys")))
            case "read_range" => frame = Some(tbl.readRange(
              Some(num(op("lo"))), Some(num(op("hi")))))
            case "read_where" => frame = Some(tbl.readWhere("rental_date",
              Some(new java.sql.Timestamp(num(op("lo")) * 1000)),
              Some(new java.sql.Timestamp(num(op("hi")) * 1000))))
            // maintenance as IncrementalRun.main calls it
            case "optimize" => if (tbl.history.last._4 > 16) tbl.optimize()
            case "vacuum" => tbl.retire(keepLast = 16); tbl.vacuum()
          }
          frame.foreach(f => fp = fingerprint(f))
        }
        val isWrite = Set("merge", "apply_delta", "delete", "optimize", "vacuum")(kind)
        if (isWrite && o.ok) tbl.currentVersion.foreach(v => commits += ((v, o.endMs)))
        if (run.traced) {
          val added = dataFiles(dir) -- filesBefore.keySet
          val written = added.values.sum
          fs(s"store.$kind.fs_read_ops") += CountingFs.reads.get - reads0
          fs(s"store.$kind.fs_list_ops") += CountingFs.lists.get - lists0
          fs(s"store.$kind.bytes_written") += written
          fs(s"store.$kind.files_written") += added.size
          if (op.contains("file")) {
            bytesWritten += written
            batchBytes += Files.size(Paths.get(s"${run.work}/${op("file")}"))
          }
          frame.foreach { f =>
            scanned += f.inputFiles.length
            live += tbl.history.last._4
          }
        }
        obs.println(Trace.json(Map("op" -> i, "ok" -> o.ok, "fp" -> fp.mkString(","))))
        i += 1
      }
      endTimed(run)
      q.processAllAvailable()
      val lastApplied = applied.asScala.toSeq
      val lags = commits.toSeq.flatMap { case (v, at) =>
        lastApplied.filter(a => a._1 >= v && a._2 >= at).map(_._2 - at).minOption
      }
      q.stop()
      spark.streams.removeListener(lagListener)
      obs.println(Trace.json(Map("op" -> -1, "executed" -> i,
        "fp" -> fingerprint(tbl.read()).mkString(","),
        "mirror_fp" -> fingerprint(mirror.read()).mkString(","))))
      obs.close()
      run.extra("mirror_lag_p50_s") = Stats.median(lags.map(_ / 1000.0))
      run.extra("mirror_lags") = lags.size
      run.extra("space_amp") = du(dir).toDouble / liveBytes(tbl)
      fs.foreach { case (k, v) => run.layers(k) = v }
      if (run.traced) {
        run.ops.groupBy(_.kind).foreach {
          case (k, os) =>
            run.layers(s"store.$k.ms") = os.map(o => (o.endMs - o.startMs).toDouble).sum
            run.layers(s"store.$k.jobs") = os.map(o => run.layers(s"jobs.op${o.id}")).sum
        }
        run.layers("store.write_amp") = if (batchBytes > 0) bytesWritten.toDouble / batchBytes else 0
        run.layers("store.read_files_scanned_frac") = if (live > 0) scanned / live else 0
      }
      storeShape(run, tbl)
    }

    def num(v: Any): Long = v.asInstanceOf[Number].longValue

    /** Data files under the table directory, with their sizes. */
    def dataFiles(dir: String): Map[String, Long] = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) Map.empty
      else Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON reader for the generator's op lines (objects, arrays,
  * numbers, strings); the JVM classpath has no JSON library this code may
  * rely on across Spark versions. */
object Json {
  def parse(s: String): Map[String, Any] = new P(s).value().asInstanceOf[Map[String, Any]]

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s(i) match {
        case '{' =>
          i += 1; val m = mutable.LinkedHashMap.empty[String, Any]; ws()
          if (s(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              val k = value().asInstanceOf[String]; ws(); i += 1 // ':'
              m(k) = value(); ws()
              more = s(i) == ','; i += 1
            }
          }
          m.toMap
        case '[' =>
          i += 1; val b = mutable.ArrayBuffer.empty[Any]; ws()
          if (s(i) == ']') i += 1
          else {
            var more = true
            while (more) { b += value(); ws(); more = s(i) == ','; i += 1 }
          }
          b.toSeq
        case '"' =>
          val j = s.indexOf('"', i + 1); val r = s.substring(i + 1, j); i = j + 1; r
        case _ =>
          val j = i
          while (i < s.length && "+-.eE0123456789".indexOf(s(i)) >= 0) i += 1
          val t = s.substring(j, i)
          if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
      }
    }
  }
}
