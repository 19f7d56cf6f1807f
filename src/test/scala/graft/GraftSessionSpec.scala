package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, BandJoinRewrite}

/** The session protocol of the operational mains ([[GraftSession.run]])
  * on an embedding caller's session, and the idempotence of
  * [[GraftSession.install]]. */
final class GraftSessionSpec extends AnyFunSuite {

  // built eagerly: a `run` with no session to reuse would own one and
  // exit the JVM on a RunFailed
  private val spark = TestSpark.spark

  test("run reuses the caller's session without changing its runtime confs or stopping it") {
    // install's own catalog registration happens once, outside the check
    GraftSession.install(spark)
    val before = spark.conf.getAll
    var seen: SparkSession = null
    GraftSession.run(s => seen = s)
    assert(seen eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.getAll == before)
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3L)
  }

  test("a RunFailed inside an embedded run propagates to the caller") {
    val e = intercept[GraftSession.RunFailed](
      GraftSession.run(_ => GraftSession.gateFailed("gate refused the run")))
    assert(e.code == 2)
    assert(e.getMessage == "gate refused the run")
    val d = intercept[GraftSession.RunFailed](
      GraftSession.run(_ => GraftSession.diverged("diverged")))
    assert(d.code == 1)
    assert(!spark.sparkContext.isStopped)
  }

  test("install twice leaves one BandJoinRewrite and one AsOfJoinStrategy") {
    GraftSession.install(spark)
    GraftSession.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ == BandJoinRewrite) == 1)
    assert(spark.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
  }
}
