package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  private val scratchTrees = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchTrees.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))))

  /** A fresh directory under the system temp dir for one spec's scratch
    * tables and outputs; it and everything written under it are deleted
    * when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchTrees.add(p)
    p
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        TestSpark.tempDir("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A rental-version log row: the state of `rental_id` as of `last_update`. */
  final case class RentalVersion(
      rental_id: Long,
      rental_date: Timestamp,
      return_date: Option[Timestamp],
      last_update: Timestamp)

  def ts(s: String): Timestamp =
    Timestamp.valueOf(if (s.length == 10) s + " 00:00:00" else s)
  def d(s: String): Date = Date.valueOf(s)

  def rentalDf(rows: Seq[RentalVersion]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF()
      .select(
        col("rental_id"),
        col("rental_date"),
        col("return_date"),
        col("last_update"))
  }

  /** Source-table state as of `t`: latest version per rental_id with
    * last_update ≤ t (simulates the mutable Pagila `rental` table the
    * reference reads at each run). */
  def sourceAsOf(log: DataFrame, t: Timestamp): DataFrame = {
    // return-bearing version wins a last_update tie (an update can land at
    // the same timestamp as the insert it supersedes)
    val w = Window.partitionBy("rental_id")
      .orderBy(col("last_update").desc, col("return_date").desc_nulls_last)
    log.filter(col("last_update") <= lit(t))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  def collectSorted(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect()
      .map(r => (0 until r.length).map(r.get))
      .sortBy(_.mkString("|")).toSeq
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (collectSorted(a), collectSorted(b))
    assert(ra == rb, s"frames differ:\n  left=${ra.take(5)}\n  right=${rb.take(5)}\n  sizes ${ra.size} vs ${rb.size}")
  }
}
