package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.{SnapshotSync, SnapshotTable}
import TestSpark._

/** Property: whatever sequence of keyed writes, compactions, schema
  * changes, restores, appends and history trims lands on a source
  * table, every mirror route converges to it after every commit — the
  * batch [[SnapshotSync.sync]], [[SnapshotSync.applyFeed]] fed
  * `changesKeyed(prev, cur)` by hand, and (one seed) the
  * `graft-snapshot` feed source streamed into a `cdc`-mode sink — and
  * both change feeds equal the endpoint diff of `readVersion(from)` and
  * `readVersion(to)`, computed here in memory, on the last step's
  * interval and on a random retained one. The source itself is checked
  * against an in-memory map model. Raw ScalaCheck generators with fixed
  * seeds, as in [[IncrementalPropertySpec]].
  */
class ReplicationPropertySpec extends AnyFunSuite {
  import ReplicationPropertySpec._

  private def keysGen(max: Int): Gen[List[Long]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.choose(1L, 60L))).map(_.distinct)

  private val deltaGen: Gen[(List[Long], List[Long])] =
    for { u <- keysGen(6); d <- keysGen(4) } yield (u, d)

  private val stepGen: Gen[Step] = Gen.frequency(
    3 -> keysGen(8).map(Merge),
    2 -> keysGen(5).map(Delete),
    3 -> deltaGen.map { case (u, d) => Delta(u, d) },
    1 -> Gen.const(Optimize))

  /** One of every step kind in random order after two random keyed
    * writes (so trims, gaps and restores have history to act on), plus
    * two random steps. The streamed trial leaves the widen out: a
    * stream's schema is fixed at its start. */
  private def stepsGen(widen: Boolean): Gen[List[Step]] = for {
    lead <- Gen.listOfN(2, stepGen)
    extra <- Gen.listOfN(2, stepGen)
    add <- keysGen(6)
    un <- Gen.choose(4, 8).flatMap(n => Gen.listOfN(n, Gen.choose(1L, 60L))).map(_.distinct)
    unDel <- keysGen(4)
    delta <- deltaGen
    pick <- Gen.choose(0, 1000)
    fresh <- Gen.choose(1, 5)
    kinds = List[Step](Merge(add), Delete(add.take(2)), Delta(delta._1, delta._2), Optimize,
      AddColumn(add), Uncollected(un, unDel), Restore(pick), Append(fresh), Retire, Gap) ++
      (if (widen) List(Widen) else Nil) ++ extra
    order <- Gen.listOfN(kinds.size, Gen.choose(0.0, 1.0))
  } yield lead ++ kinds.zip(order).sortBy(_._2).map(_._1)

  /** key -> (v, n, w); `w` is None until the column exists. */
  private type Model = Map[Long, (String, Int, Option[String])]

  private def frame(model: Model, evolved: Boolean, widened: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val rows = model.toSeq.map { case (k, (v, n, w)) => (k, v, n, w) }
    val df = rows.toDF("k", "v", "n", "w")
    val typed = if (widened) df.withColumn("n", col("n").cast(LongType)) else df
    if (evolved) typed else typed.drop("w")
  }

  private def keyFrame(keys: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    keys.toDF("k")
  }

  private def assertRows(df: DataFrame, want: Seq[Seq[Any]], what: String): Unit =
    assertSorted(collectSorted(df), want, what)

  private def assertSorted(got: Seq[Seq[Any]], want: Seq[Seq[Any]], what: String): Unit =
    assert(got == want, s"$what:\n  got=${got.take(5)}\n  want=${want.take(5)}\n  sizes ${got.size} vs ${want.size}")

  /** Both change feeds over [from, to] against the endpoint diff of the
    * two snapshots: the `from` snapshot aligned to `to`'s schema (an
    * added column null, a widened one cast), rows compared as multisets
    * with columns in name order, as [[collectSorted]] lays them out. */
  private def assertFeeds(src: SnapshotTable, from: Long, to: Long, what: String): Unit = {
    val schema = src.schemaAt(Some(to))
    val names = schema.fieldNames.sorted
    val before = src.readVersion(from)
    val aligned = before.select(schema.fields.toSeq.map(f =>
      (if (before.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*)
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.select(names.toSeq.map(col): _*).collect().toSeq.map(_.toSeq)
    val (b, a) = (rows(aligned), rows(src.readVersion(to)))
    def minus(x: Seq[Seq[Any]], y: Seq[Seq[Any]]): Seq[Seq[Any]] = {
      val left = scala.collection.mutable.Map(y.groupBy(identity).view.mapValues(_.size).toSeq: _*)
      x.filter(r => if (left.getOrElse(r, 0) > 0) { left(r) -= 1; false } else true)
    }
    val (added, removed) = (minus(a, b), minus(b, a))
    def sorted(xs: Seq[Seq[Any]]) = xs.sortBy(_.mkString("|"))
    // "_change" / "_change_type" sort before the lower-case table columns
    assertSorted(collectSorted(src.changesBetween(from, to)),
      sorted(added.map("added" +: _) ++ removed.map("removed" +: _)),
      s"changesBetween != endpoint diff over v$from..v$to at $what")
    val k = names.indexOf("k")
    val addedBy = added.map(r => r(k) -> r).toMap
    val removedBy = removed.map(r => r(k) -> r).toMap
    val keyed = (addedBy.keySet ++ removedBy.keySet).toSeq.map { key =>
      (addedBy.get(key), removedBy.get(key)) match {
        case (Some(post), Some(_)) => "update" +: post
        case (Some(post), None) => "insert" +: post
        case (None, pre) => "delete" +: pre.get
      }
    }
    assertSorted(collectSorted(src.changesKeyed(from, to)), sorted(keyed),
      s"changesKeyed != endpoint diff over v$from..v$to at $what")
  }

  test("every mirror route converges to the source after every commit (random op sequences)") {
    val kinds = scala.collection.mutable.Set.empty[String]
    for (trial <- 1 to 3) {
      val steps = stepsGen(widen = trial != 1).pureApply(Gen.Parameters.default, Seed(7000L + trial))
      kinds ++= steps.map(_.productPrefix)
      val rnd = new scala.util.Random(trial)
      val dir = TestSpark.tempDir("graft-repl").toString
      val src = new SnapshotTable(spark, s"$dir/source", "k", clusterPartitions = Some(3),
        deleteVectorMaxRows = if (trial % 2 == 0) 3L else 0L)
      var model: Model = (1L to 40L).map(k => k -> (s"v$k", k.toInt, Option.empty[String])).toMap
      var evolved = false
      var widened = false
      var prev = src.create(frame(model, evolved, widened))
      val models = scala.collection.mutable.Map(prev -> model)
      var nextFresh = 1000L
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
          def retained = src.history.map(_._1)
          step match {
            case Merge(keys) =>
              src.merge(frame(rows(keys), evolved, widened)); model ++= rows(keys)
            case Delete(keys) =>
              src.delete(keyFrame(keys)); model --= keys
            case Delta(ups, dels) =>
              src.applyDelta(frame(rows(ups), evolved, widened), keyFrame(dels))
              model = model -- dels ++ rows(ups) // the upsert wins a shared key
            case Uncollected(ups, dels) =>
              // a cap below the batch's key count: the uncollected route,
              // which records no changed-key set
              src.pruneSetCap = 3
              try src.applyDelta(frame(rows(ups), evolved, widened), keyFrame(dels))
              finally src.pruneSetCap = 100000L
              model = model -- dels ++ rows(ups)
            case Optimize =>
              src.optimize(smallBytes = Long.MaxValue)
            case AddColumn(keys) =>
              evolved = true
              src.merge(frame(rows(keys), evolved, widened)); model ++= rows(keys)
            case Widen =>
              widened = true
              src.widenColumn("n", LongType)
              // mirrors take the same DDL; the sync cursor rides along
              Seq(synced, fed).foreach(m =>
                m.widenColumn("n", LongType, m.currentTag.getOrElse("")))
            case Restore(pick) =>
              // a version of the current schema: a restore across a
              // schema change is a different contract
              val same = retained.filter(v => v != prev && src.schemaAt(Some(v)) == src.schema)
              if (same.nonEmpty) {
                val v = same(pick % same.size)
                src.restore(v); model = models(v)
              }
            case Append(n) =>
              val fresh = rows(nextFresh until nextFresh + n)
              nextFresh += n
              src.append(frame(fresh, evolved, widened)); model ++= fresh
            case Retire =>
              src.retire(keepLast = 3)
            case Gap =>
              // an intermediate manifest goes missing: intervals across
              // it are no longer a contiguous chain
              val inner = retained.drop(1).filter(_ < prev)
              if (inner.nonEmpty) Files.delete(Paths.get(s"$dir/source/manifests",
                f"v${inner(rnd.nextInt(inner.size))}%019d.json"))
          }
          val cur = src.currentVersion.get
          models(cur) = model
          val what = s"trial $trial step $i ($step, v$prev -> v$cur)"
          val want = collectSorted(frame(model, evolved, widened))
          assertRows(src.read(), want, s"source != model at $what")
          SnapshotSync.sync(src, synced)
          assertRows(synced.read(), want, s"SnapshotSync mirror != source at $what")
          SnapshotSync.applyFeed(fed, src.changesKeyed(prev, cur), s"feed:$cur")
          assertRows(fed.read(), want, s"applyFeed mirror != source at $what")
          query.foreach { q =>
            q.processAllAvailable()
            // a stream's schema is fixed at its start: compare the
            // columns it declared (an added column needs a restart)
            assertRows(streamed.read().drop("w"),
              collectSorted(frame(model, evolved = false, widened)),
              s"streamed mirror != source at $what")
          }
          assertFeeds(src, prev, cur, what)
          val vs = retained
          val (from, to) = {
            val x = vs(rnd.nextInt(vs.size)); val y = vs(rnd.nextInt(vs.size))
            (math.min(x, y), math.max(x, y))
          }
          assertFeeds(src, from, to, what)
          prev = cur
        }
      } finally query.foreach(_.stop())
    }
    assert(kinds == Set("Merge", "Delete", "Delta", "Optimize", "AddColumn", "Widen",
      "Uncollected", "Restore", "Append", "Retire", "Gap"), s"the seeds cover only $kinds")
  }
}

object ReplicationPropertySpec {
  private sealed trait Step extends Product with Serializable
  private final case class Merge(keys: List[Long]) extends Step
  private final case class Delete(keys: List[Long]) extends Step
  private final case class Delta(upserts: List[Long], deletes: List[Long]) extends Step
  /** An applyDelta whose key set overflows `pruneSetCap`. */
  private final case class Uncollected(upserts: List[Long], deletes: List[Long]) extends Step
  private case object Optimize extends Step
  /** A merge that also adds the nullable column `w`. */
  private final case class AddColumn(keys: List[Long]) extends Step
  /** `n` widens from int to bigint. */
  private case object Widen extends Step
  /** Restore the `pick`-th retained version of the current schema. */
  private final case class Restore(pick: Int) extends Step
  /** Append `n` rows under fresh keys. */
  private final case class Append(n: Int) extends Step
  /** `retire(keepLast = 3)`. */
  private case object Retire extends Step
  /** Delete one intermediate manifest from disk. */
  private case object Gap extends Step
}
