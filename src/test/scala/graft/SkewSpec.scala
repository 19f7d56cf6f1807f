package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import TestSpark._

class SkewSpec extends AnyFunSuite {

  test("salted join equals plain join on a skewed key distribution") {
    val s = spark
    import s.implicits._
    // 10k rows of one hot key + a uniform tail
    val big = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 500).map(i => (1L + i % 50, i.toLong * 100)))
      .toDF("k", "v")
    val small = (1L to 60L).map(k => (k, s"dim$k")).toDF("k", "name")

    val plain = big.join(small, Seq("k")).select("k", "v", "name")
    val salted = Skew.saltedJoin(big, small, Seq("k"), n = 8).select("k", "v", "name")
    assertSameRows(plain, salted)
  }

  test("salted left join preserves unmatched rows exactly once") {
    val s = spark
    import s.implicits._
    val big = Seq((1L, "a"), (2L, "b"), (99L, "orphan")).toDF("k", "v")
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    val out = Skew.saltedJoin(big, small, Seq("k"), n = 4, "left").collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(2)) == 1)
  }
}
