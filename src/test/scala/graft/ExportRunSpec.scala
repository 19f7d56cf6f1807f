package graft

import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** The export maintenance main end-to-end: [[ExportRun]] throws on any
  * manifest inconsistency or nondeterministic re-export, so a clean
  * return IS the assertion; the output-shape checks ride along. */
class ExportRunSpec extends AnyFunSuite {

  test("export run: written tree consistent with manifest, re-export deterministic") {
    spark // ensure the shared session exists (embeddable-main protocol)
    val dir = TestSpark.tempDir("graft_export_run").toString
    ExportRun.main(Array("/root/testdata/sf0.001", dir, "4"))
    val written = spark.read.parquet(s"$dir/shards")
    assert(written.count() == Tables.documents(spark, "/root/testdata/sf0.001").count())
    assert(written.select("shard").distinct().count() == 4)
  }
}
