package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** The query-metrics listener against real actions: rows/bytes/shuffle
  * captured from the executed plan, failures recorded, drain durable. */
class ObservabilitySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Listener callbacks arrive on the listener bus thread — poll. */
  private def eventually[A](timeoutMs: Long = 15000)(f: => Option[A]): A = {
    val t0 = System.currentTimeMillis()
    var r = f
    while (r.isEmpty && System.currentTimeMillis() - t0 < timeoutMs) {
      Thread.sleep(50); r = f
    }
    r.getOrElse(fail(s"listener did not deliver within ${timeoutMs}ms"))
  }

  test("a grouped scan action captures rows, file bytes, and shuffle bytes") {
    val m = GraftQueryMetrics.register(spark)
    try {
      val n = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().length
      assert(n > 0)
      val c = eventually() {
        m.captured.find(c => c.error.isEmpty && c.outputRows.contains(n.toLong))
      }
      assert(c.durationMs >= 0)
      assert(c.filesRead > 0 && c.bytesRead > 0, s"scan metrics missing: $c")
      assert(c.shuffleBytesWritten > 0, s"groupBy must have shuffled: $c")
    } finally spark.listenerManager.unregister(m)
  }

  test("a failing action is captured with its error") {
    val m = GraftQueryMetrics.register(spark)
    try {
      val s = spark
      import s.implicits._
      val boom = udf((x: Long) => if (x > 0) throw new RuntimeException("boom") else x)
      intercept[Exception] {
        Seq(1L, 2L).toDF("x").select(boom(col("x"))).collect()
      }
      val c = eventually() { m.captured.find(_.error.isDefined) }
      assert(c.error.get.contains("boom") || c.error.get.nonEmpty)
      assert(c.durationMs == -1L)
    } finally spark.listenerManager.unregister(m)
  }

  test("drain appends to parquet and empties the buffer; re-drain appends") {
    val m = GraftQueryMetrics.register(spark)
    val path = TestSpark.tempDir("graft-obs").toString + "/metrics"
    try {
      Tables.orders(spark, dir).limit(3).collect()
      eventually() { m.captured.headOption }
      val n1 = m.drainTo(spark, path)
      // the drain's own parquet write is a query execution too: its
      // async listener callback may land right after the buffer clears
      // (self-observation). Residue must be ONLY such "command" echoes —
      // anything else means drain failed to clear.
      assert(n1 > 0 && m.captured.forall(_.action == "command"))
      assert(GraftQueryMetrics.read(spark, path).count() == n1)
      Tables.orders(spark, dir).limit(2).collect()
      eventually() { m.captured.headOption }
      val n2 = m.drainTo(spark, path)
      assert(GraftQueryMetrics.read(spark, path).count() == n1 + n2,
        "drain must append, not overwrite")
    } finally spark.listenerManager.unregister(m)
  }
}
