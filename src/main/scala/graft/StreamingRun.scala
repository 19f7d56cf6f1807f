package graft

import org.apache.spark.sql.functions._

import graft.ops.WeeklySummary
import graft.streaming.WeeklySummaryStream

/** Direct-run entry for the streaming maintenance path: splits the
  * rental view of `sfDir` into `nSegments` CDC log files by `last_update`
  * interval (simulating a growing log), replays them through
  * [[WeeklySummaryStream]] one file per micro-batch, then CHECKS the
  * replayed summary against the batch snapshot over the full log — the
  * end-of-log convergence invariant StreamingSpec pins, made
  * driver-visible: prints `[stream] converged=true|false` and exits
  * non-zero on divergence.
  *
  * The segment split is one `percentile` aggregate (nSegments-1 doubles
  * to the driver) plus a row-local bound comparison — no global window:
  * an `ntile` over the whole log would single-partition the fact table,
  * which is the exact anti-pattern the engine bans elsewhere. Ties on a
  * boundary timestamp land in the same segment (segments stay
  * last_update-ordered, just not perfectly even — irrelevant for a
  * replay demo, essential at scale).
  *
  * Usage: runMain graft.StreamingRun <sfDir> <workDir> [nSegments]
  */
object StreamingRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val workDir = args(1)
    val nSegments = if (args.length > 2) args(2).toInt else 4
    GraftSession.run { spark =>
      val logDir = s"$workDir/log"
      val rental = Tables.rental(spark, sfDir)
        .withColumn("rental_date", col("rental_date").cast("timestamp"))
        .withColumn("return_date", col("return_date").cast("timestamp"))
        .withColumn("last_update", col("last_update").cast("timestamp"))
      val lu = col("last_update").cast("double")
      val segCol =
        if (nSegments <= 1) lit(1)
        else {
          val probs = (1 until nSegments).map(i => i.toDouble / nSegments)
          val bounds = rental
            .agg(expr(s"percentile(cast(last_update as double), array(${probs.mkString(",")}))"))
            .head().getSeq[Double](0)
          bounds.foldLeft(lit(1))((acc, b) =>
            acc + when(lu > lit(b), 1).otherwise(0))
        }
      val segmented = rental.withColumn("seg", segCol)
      new java.io.File(logDir).mkdirs()
      (1 to nSegments).foreach { i =>
        val tmp = s"$workDir/seg$i"
        segmented.filter(col("seg") === i).drop("seg")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .foreach(part => java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$logDir/seg$i.parquet")))
      }

      val q = WeeklySummaryStream.start(
        spark, logDir, s"$workDir/state", s"$workDir/ckpt")
      q.awaitTermination()

      val out = WeeklySummaryStream.summary(spark, s"$workDir/state")
      println(s"[stream] summary weeks=${out.count()}")
      out.orderBy(col("week_beginning").desc).limit(3).collect()
        .foreach(r => println(s"[stream] $r"))

      // Convergence vs the batch snapshot (StreamingSpec's invariant):
      // trim the snapshot to the weeks the stream's spine spans — every
      // week with a rented/returned/closed contribution.
      val activityWeeks = rental
        .select(WeeklySummary.weekStart(col("rental_date")).as("w"))
        .union(rental.filter(col("return_date").isNotNull)
          .select(WeeklySummary.weekStart(col("return_date")).as("w")))
        .union(rental.select(WeeklySummary.weekStart(greatest(col("rental_date"),
          coalesce(col("return_date"), col("rental_date")))).as("w")))
      val lo = activityWeeks.agg(min("w")).head().getDate(0)
      val hi = activityWeeks.agg(max("w")).head().getDate(0)
      val expected = WeeklySummary.snapshot(rental, SparkEntry.AsOf)
        .filter(col("week_beginning").between(lit(lo), lit(hi)))
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val cols = df.columns.sorted.toSeq.map(col)
        df.select(cols: _*).collect().map(_.mkString("|")).sorted.toSeq
      }
      val converged = rows(out) == rows(expected)
      println(s"[stream] converged=$converged")
      if (!converged) GraftSession.diverged("stream replay diverged from the batch snapshot")
    }
  }
}
