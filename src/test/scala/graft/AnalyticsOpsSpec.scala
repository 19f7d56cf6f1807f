package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventOps, FuzzyJoin, TextOps}
import TestSpark._

/** Hand-built-frame specs for the round-3 operators: portable
  * correlation, graph stats, collocations, fuzzy join. (The TPC-H-shape
  * Analytics queries are covered by the DuckDB oracle on harness
  * parquet; these suites pin the operator SEMANTICS on tiny inputs.) */
class AnalyticsOpsSpec extends AnyFunSuite {

  test("valueHourCorr matches a hand-computed Pearson r and is scan-order invariant") {
    val s = spark
    import s.implicits._
    // hour = 0,1,2 with value = 2*hour + 1 → perfect correlation +1
    val rows = Seq(
      (1L, ts("2024-01-01 00:10:00"), 1.0),
      (2L, ts("2024-01-01 01:10:00"), 3.0),
      (3L, ts("2024-01-01 02:10:00"), 5.0)).map { case (id, t, v) =>
      (id, t, 7L, "a", v, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.valueHourCorr(df).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("corr_value_hour") === 1.0)

    // anti-correlated group: value = -hour
    val df2 = df.withColumn("value", -hour(col("ts")).cast("double"))
    assert(EventOps.valueHourCorr(df2).collect()
      .head.getAs[Double]("corr_value_hour") === -1.0)

    // repartition (different partial-agg order) cannot move the result
    val shuffled = EventOps.valueHourCorr(df.repartition(7)).collect()
    assert(shuffled.head.getAs[Double]("corr_value_hour") === 1.0)
  }

  test("nearDupGraphStats counts the planted triangle exactly once") {
    val s = spark
    import s.implicits._
    // docs 1,2,3 pairwise near-identical (triangle); 4 is a pendant of 1;
    // 5 unrelated
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val docs = Seq(
      (1L, base + "one"), (2L, base + "two"), (3L, base + "three"),
      (4L, base + "one"), // exact dup of 1 → edges to 1,2,3
      (5L, "completely different words entirely " * 10))
      .toDF("doc_id", "text")
    val row = TextOps.nearDupGraphStats(docs).collect().head
    assert(row.getAs[Long]("n_nodes") === 4)
    // K4 on {1,2,3,4}: 6 edges, 4 triangles, degree 3
    assert(row.getAs[Long]("n_edges") === 6)
    assert(row.getAs[Long]("max_degree") === 3)
    assert(row.getAs[Long]("n_triangles") === 4)
  }

  test("vocabCollocations lift ranks a fused bigram above independent co-occurrence") {
    val s = spark
    import s.implicits._
    // "hot dog" always adjacent; "red" and "car" frequent but never adjacent
    val docs = Seq.tabulate(10)(i =>
      (i.toLong, "hot dog red stuff car thing hot dog red items car other"))
      .toDF("doc_id", "text")
    val out = TextOps.vocabCollocations(docs, minCount = 5, topN = 10).collect()
    val lifts = out.map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("lift")).toMap
    assert(lifts.contains(("hot", "dog")))
    assert(!lifts.contains(("red", "car")))
    // P(hot dog) = P(hot) = P(dog) → lift = 1/P(hot) > 1
    assert(lifts(("hot", "dog")) > 1.0)
  }

  test("blocked fuzzy join finds within-block near names and never crosses blocks") {
    val s = spark
    val dir = TestSpark.tempDir("fuzzy").toString
    import s.implicits._
    Seq(
      (1L, "red bolt", "Brand#1", "X", 5, 1.0),
      (2L, "old bolt", "Brand#1", "X", 5, 1.0),   // dist 2 to "red bolt"
      (3L, "red bolt", "Brand#2", "X", 9, 1.0),   // other size → other block
      (4L, "red widget", "Brand#1", "X", 5, 1.0)) // bolt≠widget block
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = FuzzyJoin.partNameMatches(s, dir, maxDist = 4).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("name_a") === "old bolt")
    assert(r.getAs[String]("name_b") === "red bolt")
    assert(r.getAs[Int]("edit_dist") === 2)
    assert(r.getAs[Long]("n_a") === 1 && r.getAs[Long]("n_b") === 1)
  }
}
