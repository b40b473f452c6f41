package graft

import scala.util.{Failure, Success, Try}

import graft.model.Tier
import graft.store.{AsOfPin, TierStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop}

/**
 * Model-based property of the tier store's commit protocols: random
 * short operation sequences run against a real store and against an
 * in-memory multiset of (date, value) rows. The operations are plain
 * `write`, `writeRoutedBatch` (fresh ids and replays of used ones),
 * `compact` with and without `retainHistory`, a value-predicate
 * `deleteWhere`, `vacuumTier` and `pinNow`. After every step:
 *
 *  - `read` equals the model;
 *  - a replayed batch id returns false and changes nothing;
 *  - every held pin's `readAsOf` equals the model at pin time, or
 *    throws IllegalStateException — and it throws only for a partition
 *    that existed at the pin, once a pass that reclaims history (a
 *    vacuum, a compaction without `retainHistory`, an erasure) has run
 *    since the pin. A partition created after the pin holds nothing
 *    the pin reads, so no vacuum of it may make the pin fail.
 */
class TierStoreModelSpec extends SparkSpec {
  import spark.implicits._
  import TierStoreModelSpec._

  private val days = Seq("2024-01-01", "2024-01-02")

  private val genDates = Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 1)))
  private val genOp: Gen[Op] = Gen.frequency(
    3 -> genDates.map(Write(_)),
    3 -> (for { r <- Gen.option(Gen.choose(0, 7)); ds <- genDates } yield Batch(r, ds)),
    2 -> (for { keep <- Gen.oneOf(true, false); mf <- Gen.oneOf(1, 2) }
      yield Compact(keep, mf)),
    1 -> Gen.choose(0, 2).map(Erase(_)),
    1 -> Gen.const(Vacuum),
    2 -> Gen.const(Pin))

  /** A pin with the model at its capture and the dates that had been
   *  written by then; `reclaimed` collects those a later pass reclaimed. */
  private final class Held(val pin: AsOfPin, val rows: Vector[(String, Double)],
      val dates: Set[String]) {
    var reclaimed = Set.empty[String]
  }

  private def rowsOf(df: DataFrame): Vector[(String, Double)] =
    df.select(col("date").cast("string"), col("value"))
      .as[(String, Double)].collect().toVector.sorted

  private def run(ops: List[Op]): Unit = {
    val store = new TierStore(spark,
      graft.Fixtures.newDir("graft_model").toFile.getAbsolutePath)
    var model = Vector.empty[(String, Double)]
    var written = Set.empty[String]
    var next = 0.0
    val used = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pins = scala.collection.mutable.ArrayBuffer.empty[Held]
    def fresh(ds: Seq[Int]) = ds.map { d => next += 1; (days(d), next) }
    def frame(rs: Seq[(String, Double)]) = rs.map { case (d, v) =>
      ("sensor_temp", java.sql.Timestamp.valueOf(s"$d 10:00:00"), v, "d1")
    }.toDF("measurement", "time", "value", "dev_id")
    // a pass may reclaim in any partition that exists
    def reclaim(passed: Boolean): Unit =
      if (passed) pins.foreach(h => h.reclaimed ++= h.dates)

    ops.zipWithIndex.foreach { case (op, step) =>
      val ctx = s"step $step ($op) of $ops"
      op match {
        case Write(ds) =>
          val rs = fresh(ds)
          store.write(Tier.GenRaw, frame(rs))
          model ++= rs
          written ++= rs.map(_._1)
        case Batch(replay, ds) =>
          val rs = fresh(ds)
          replay.filter(_ => used.nonEmpty).map(k => used(k % used.size)) match {
            case Some(id) =>
              assert(!store.writeRoutedBatch(frame(rs), id, writer = "model"),
                s"replayed batch $id appended again: $ctx")
            case None =>
              val id = used.size.toLong
              used += id
              assert(store.writeRoutedBatch(frame(rs), id, writer = "model"), ctx)
              model ++= rs
              written ++= rs.map(_._1)
          }
        case Compact(keep, minFiles) =>
          val n = store.compact(Tier.GenRaw, minFiles = minFiles, retainHistory = keep)
          reclaim(!keep && n > 0)
        case Erase(r) =>
          reclaim(store.deleteWhere(Tier.GenRaw, col("value") % 3 === r) > 0)
          model = model.filterNot(_._2 % 3 == r)
        case Vacuum =>
          store.vacuumTier(Tier.GenRaw)
          reclaim(true)
        case Pin =>
          pins += new Held(store.pinNow(), model.sorted, written)
      }
      assert(rowsOf(store.read(Tier.GenRaw)) == model.sorted,
        s"read diverged from the model after $ctx")
      pins.zipWithIndex.foreach { case (h, k) =>
        Try(rowsOf(store.readAsOf(Tier.GenRaw, h.pin))) match {
          case Success(rs) =>
            assert(rs == h.rows, s"pin $k resolved $rs, expected ${h.rows}, after $ctx")
          case Failure(e: IllegalStateException) =>
            assert(h.reclaimed.exists(d => e.getMessage.contains(s"date=$d")),
              s"pin $k threw for a partition it never read, or with no " +
                s"vacuum of one since it was taken, after $ctx: ${e.getMessage}")
          case Failure(e) => throw e
        }
      }
    }
  }

  test("random write / replay / compact / erase / vacuum / pin sequences: " +
    "read, replays and pinned reads agree with a multiset model") {
    checkProp(Prop.forAllNoShrink(
      Gen.choose(1, 8).flatMap(Gen.listOfN(_, genOp))) { ops => run(ops); true },
      minTests = 15)
  }

  test("a pin taken before a partition's first commit stays exact or " +
    "fails loudly across two vacuumed compactions, never resolves empty") {
    // the second compaction supersedes only the first one's snapshot;
    // the rows the pin needs were folded — and vacuumed — by the first
    run(List(Write(Seq(0)), Pin, Compact(retainHistory = false, minFiles = 1),
      Compact(retainHistory = false, minFiles = 1)))
  }

  test("a pin resolves exactly while a partition created after it is " +
    "compacted and vacuumed twice") {
    // the new partition's first commit retires: the pin has no version
    // of it (-1) and covers none of the raw files that commit folded
    val twice = List(Compact(retainHistory = false, minFiles = 2), Write(Seq(1)),
      Compact(retainHistory = false, minFiles = 2))
    run(List(Write(Seq(0)), Write(Seq(0)), Compact(retainHistory = false, minFiles = 2),
      Pin, Write(Seq(1)), Write(Seq(1))) ++ twice)
    run(List(Pin, Write(Seq(1)), Write(Seq(1))) ++ twice)
  }
}

object TierStoreModelSpec {
  sealed trait Op
  final case class Write(dates: Seq[Int]) extends Op
  /** `replay` picks a used batch id (modulo the used count) when any exist. */
  final case class Batch(replay: Option[Int], dates: Seq[Int]) extends Op
  final case class Compact(retainHistory: Boolean, minFiles: Int) extends Op
  final case class Erase(residue: Int) extends Op
  case object Vacuum extends Op
  case object Pin extends Op
}
