package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.{SnapshotSync, SnapshotTable}
import TestSpark._

/** Property: whatever sequence of keyed writes, compactions and one
  * add-column merge lands on a source table, every mirror route
  * converges to it after every commit — the batch [[SnapshotSync.sync]],
  * [[SnapshotSync.applyFeed]] fed `changesKeyed(prev, cur)` by hand, and
  * (one seed) the `graft-snapshot` feed source streamed into a
  * `cdc`-mode sink. The source itself is checked against an in-memory
  * map model. Raw ScalaCheck generators with fixed seeds, as in
  * [[IncrementalPropertySpec]].
  */
class ReplicationPropertySpec extends AnyFunSuite {
  import ReplicationPropertySpec._

  private def keysGen(max: Int): Gen[List[Long]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.choose(1L, 60L))).map(_.distinct)

  private val stepGen: Gen[Step] = Gen.frequency(
    3 -> keysGen(8).map(Merge),
    2 -> keysGen(5).map(Delete),
    3 -> (for { u <- keysGen(6); d <- keysGen(4) } yield Delta(u, d)),
    1 -> Gen.const(Optimize))

  /** Five random steps with the add-column merge at a random position. */
  private val stepsGen: Gen[List[Step]] = for {
    steps <- Gen.listOfN(5, stepGen)
    at <- Gen.choose(0, 5)
    keys <- keysGen(6)
  } yield steps.patch(at, Seq(AddColumn(keys)), 0)

  /** key -> (v, n, w); `w` is None until the column exists. */
  private type Model = Map[Long, (String, Int, Option[String])]

  private def frame(model: Model, evolved: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val rows = model.toSeq.map { case (k, (v, n, w)) => (k, v, n, w) }
    val df = rows.toDF("k", "v", "n", "w")
    if (evolved) df else df.drop("w")
  }

  private def keyFrame(keys: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    keys.toDF("k")
  }

  private def assertRows(df: DataFrame, want: Seq[Seq[Any]], what: String): Unit = {
    val got = collectSorted(df)
    assert(got == want, s"$what:\n  got=${got.take(5)}\n  want=${want.take(5)}\n  sizes ${got.size} vs ${want.size}")
  }

  test("every mirror route converges to the source after every commit (random op sequences)") {
    val kinds = scala.collection.mutable.Set.empty[String]
    for (trial <- 1 to 3) {
      val steps = stepsGen.pureApply(Gen.Parameters.default, Seed(7000L + trial))
      kinds ++= steps.map(_.productPrefix)
      val dir = TestSpark.tempDir("graft-repl").toString
      val src = new SnapshotTable(spark, s"$dir/source", "k", clusterPartitions = Some(3),
        deleteVectorMaxRows = if (trial % 2 == 0) 3L else 0L)
      var model: Model = (1L to 40L).map(k => k -> (s"v$k", k.toInt, Option.empty[String])).toMap
      var evolved = false
      var prev = src.create(frame(model, evolved))
      val synced = new SnapshotTable(spark, s"$dir/synced", "k")
      SnapshotSync.sync(src, synced) // cold copy
      val fed = new SnapshotTable(spark, s"$dir/fed", "k")
      fed.create(src.read())
      // one seed also streams: the feed source into a cdc-mode sink
      val streamed = new SnapshotTable(spark, s"$dir/streamed", "k")
      val query = if (trial != 1) None else {
        streamed.create(src.read())
        Some(spark.readStream.format("graft-snapshot")
          .option("path", s"$dir/source").option("startingVersion", prev.toString).load()
          .writeStream.format("graft-snapshot")
          .option("path", s"$dir/streamed").option("key", "k").option("mode", "cdc")
          .option("checkpointLocation", s"$dir/ckpt").start())
      }
      try {
        steps.zipWithIndex.foreach { case (step, i) =>
          def rows(keys: Seq[Long]): Model =
            keys.map(k => k -> (s"v$k-$i", (k * 7 + i).toInt,
              Option.when(evolved)(s"w$k-$i"))).toMap
          step match {
            case Merge(keys) =>
              src.merge(frame(rows(keys), evolved)); model ++= rows(keys)
            case Delete(keys) =>
              src.delete(keyFrame(keys)); model --= keys
            case Delta(ups, dels) =>
              src.applyDelta(frame(rows(ups), evolved), keyFrame(dels))
              model = model -- dels ++ rows(ups) // the upsert wins a shared key
            case Optimize =>
              src.optimize(smallBytes = Long.MaxValue)
            case AddColumn(keys) =>
              evolved = true
              src.merge(frame(rows(keys), evolved)); model ++= rows(keys)
          }
          val cur = src.currentVersion.get
          val what = s"trial $trial step $i ($step, v$prev -> v$cur)"
          val want = collectSorted(frame(model, evolved))
          assertRows(src.read(), want, s"source != model at $what")
          SnapshotSync.sync(src, synced)
          assertRows(synced.read(), want, s"SnapshotSync mirror != source at $what")
          SnapshotSync.applyFeed(fed, src.changesKeyed(prev, cur), s"feed:$cur")
          assertRows(fed.read(), want, s"applyFeed mirror != source at $what")
          query.foreach { q =>
            q.processAllAvailable()
            // a stream's schema is fixed at its start: compare the
            // columns it declared (an added column needs a restart)
            assertRows(streamed.read().drop("w"), collectSorted(frame(model, evolved = false)),
              s"streamed mirror != source at $what")
          }
          prev = cur
        }
      } finally query.foreach(_.stop())
    }
    assert(kinds == Set("Merge", "Delete", "Delta", "Optimize", "AddColumn"),
      s"the seeds cover only $kinds")
  }
}

object ReplicationPropertySpec {
  private sealed trait Step extends Product with Serializable
  private final case class Merge(keys: List[Long]) extends Step
  private final case class Delete(keys: List[Long]) extends Step
  private final case class Delta(upserts: List[Long], deletes: List[Long]) extends Step
  private case object Optimize extends Step
  /** A merge that also adds the nullable column `w`. */
  private final case class AddColumn(keys: List[Long]) extends Step
}
