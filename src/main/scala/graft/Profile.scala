package graft

/** Measurement aid for the optimization rounds (guide §1): times the
  * fixed-cost building blocks a registered query pays before any real
  * compute — parquet resolve+scan to noop, re-resolve of the same table,
  * a trivial aggregate, a 32-partition shuffle — so per-query medians in
  * the bench can be decomposed into overhead vs work. Prints one line
  * per probe; not part of the driver contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    import org.apache.spark.sql.functions._

    def t(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[profile] $name%-42s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Per-stage decomposition of registered queries: runMain graft.Profile q1 q2 …
    // Attaches a listener, runs the query through the noop sink 3×, prints
    // each stage's wall span, task-time sum, task count and shuffle bytes —
    // the §1 "where does the time actually go" view without the UI.
    if (args.nonEmpty && !args.headOption.contains("kmeans-micro")) {
      import org.apache.spark.scheduler._
      import scala.collection.concurrent.TrieMap
      case class St(name: String, submitted: Long, var completed: Long,
        var taskMs: Long, var tasks: Int, var shufRead: Long, var shufWrite: Long)
      val stages = TrieMap.empty[Int, St]
      val stageDesc = TrieMap.empty[Int, String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          e.stageIds.foreach(id => stageDesc(id) = d)
        }
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          stages(e.stageInfo.stageId) = St(
            stageDesc.getOrElse(e.stageInfo.stageId, "") + " | " +
              e.stageInfo.name.takeWhile(_ != '\n'),
            System.nanoTime(), 0L, 0L, 0, 0L, 0L)
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          stages.get(e.stageId).foreach { s =>
            s.taskMs += e.taskInfo.duration
            s.tasks += 1
            Option(e.taskMetrics).foreach { m =>
              s.shufRead += m.shuffleReadMetrics.totalBytesRead
              s.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stages.get(e.stageInfo.stageId).foreach(_.completed = System.nanoTime())
      }
      spark.sparkContext.addSparkListener(listener)
      args.foreach { name =>
        (1 to 3).foreach { rep =>
          stages.clear()
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          System.gc()
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(name)(spark, sfDir))
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the listener bus drain
          println(f"[profile] ===== $name rep $rep wall $wall%.3f s, ${stages.size} stages =====")
          stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
            val span = if (s.completed == 0) -1.0 else (s.completed - s.submitted) / 1e9
            println(f"[profile]   stage $id%4d span $span%7.3f s  taskSum ${s.taskMs / 1e3}%7.3f s  " +
              f"tasks ${s.tasks}%4d  shufR ${s.shufRead / 1048576.0}%8.2f MB  shufW ${s.shufWrite / 1048576.0}%8.2f MB  ${s.name.take(60)}")
          }
        }
      }
      spark.stop()
      return
    }

    // micro-benchmark of the centroid-assignment expression on a
    // row-multiplied corpus (isolates per-row expression cost from the
    // driver/scheduling constants the tiny sf inputs hide behind)
    if (args.headOption.contains("kmeans-micro")) {
      val p = graft.ops.VectorOps.prepared(Tables.embeddings(spark, sfDir))
      val big = p.withColumn("r", explode(lit((0 until 100).toArray))).drop("r")
      val cents = graft.ops.VectorOps.seedCentroids(p, 16)
      noop(big.select(col("vec_id"))) // warm the replicated scan
      (1 to 3).foreach { rep =>
        t(s"assign 200k rows x 16 centroids (rep $rep)")(
          noop(big.select(
            graft.ops.VectorOps.bestCentroid(cents).getField("cid").as("cid"))))
      }
      spark.stop()
      return
    }

    // warmup (amortize JVM+codegen init like Bench does)
    noop(Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag")).count())

    for (rep <- 1 to 3) {
      println(s"[profile] ===== rep $rep =====")
      t("resolve lineitem (fresh read)")(Tables.lineitem(spark, sfDir))
      t("scan lineitem -> noop (fresh read)")(noop(Tables.lineitem(spark, sfDir)))
      val li = Tables.lineitem(spark, sfDir)
      t("scan lineitem -> noop (reused frame)")(noop(li))
      t("scan orders -> noop (fresh read)")(noop(Tables.orders(spark, sfDir)))
      t("scan documents -> noop (fresh read)")(noop(Tables.documents(spark, sfDir)))
      t("agg lineitem groupBy returnflag (fresh)")(
        noop(Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag")).count()))
      t("join orders+lineitem groupBy cust (fresh)") {
        val o = Tables.orders(spark, sfDir)
        noop(o.join(Tables.lineitem(spark, sfDir),
          col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey")).agg(count(lit(1))))
      }
      t("rental view -> noop (fresh)")(noop(Tables.rental(spark, sfDir)))
      t("empty-ish job: range(1).noop")(noop(spark.range(1).toDF()))
      t("32-task shuffle: range repartition(32)")(
        noop(spark.range(1000000).repartition(32).toDF()))
    }
    spark.stop()
  }
}
