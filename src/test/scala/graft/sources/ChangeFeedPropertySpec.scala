package graft.sources

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.Snapshots

/** The two faces of the change feed over random table histories — the
  * Structured Streaming prefix rule: a stream's output over a range of
  * versions equals a batch job over the same range. For a random
  * history on a tiny change-feed-enabled table and a random range
  * [a, head], these agree as multisets of (id, v, _change_type):
  *
  *  - [[Snapshots.changeFeed]] over the range (without `_commit_version`);
  *  - the concatenated `readChangeFeed` stream deliveries
  *    (`startingVersion = a`, AvailableNow, drained at random points
  *    of the history so the range splits into several micro-batches);
  *
  * and both equal, as NET signed multisets (insert/postimage +1,
  * delete/preimage -1), the row diff between the snapshots at a-1 and
  * head — or else both faces refuse. Vacuums in the history drop
  * versions below the range start (never inside the range), so both
  * faces must classify the first version without its predecessor.
  *
  * ScalaCheck with a fixed seed and a bounded case count (the
  * scalatest-scalacheck bridge is not available offline, so the
  * property runs through `Test.check` directly).
  */
class ChangeFeedPropertySpec extends SparkSpec {
  import ChangeFeedPropertySpec._
  import spark.implicits._

  private val genModRem: Gen[(Int, Int)] = for {
    m <- Gen.choose(2, 4); r <- Gen.choose(0, m - 1)
  } yield (m, r)

  /** A key the table may hold: a base row or an early append's. */
  private val genKey: Gen[Long] = Gen.oneOf(Gen.choose(0L, 5L),
    for { i <- Gen.choose(1L, 5L); k <- Gen.choose(0L, 2L) } yield 100L * i + k)

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 3).map(Append(_)),
    2 -> genModRem.map { case (m, r) => CowDelete(m, r) },
    2 -> genModRem.map { case (m, r) => DvDelete(m, r) },
    1 -> Gen.choose(0, 1).map(DropPartition(_)),
    2 -> genModRem.map { case (m, r) => Update(m, r) },
    2 -> (for {
      hit <- Gen.containerOfN[Set, Long](2, genKey).map(_.toSeq.sorted)
      t <- Gen.oneOf(true, false)
    } yield Merge(hit, t)),
    1 -> Gen.choose(1, 3).map(Restore(_)),
    1 -> Gen.const(Compact),
    3 -> Gen.const(Vacuum))

  private val genCase: Gen[Case] = for {
    partitioned <- Gen.oneOf(true, false)
    n <- Gen.choose(2, 5)
    ops <- Gen.listOfN(n, genOp)
    back <- Gen.choose(0, n + 1)
    drains <- Gen.listOfN(n, Gen.frequency(1 -> true, 3 -> false))
  } yield Case(partitioned, ops, back, drains)

  private def fresh(): String = Files.createTempDirectory("cfprop").toString

  /** (id, v, g) with g = id % 2: on a table partitioned by g, a
    * predicate on g alone is a whole-partition delete — a pure file
    * removal; unpartitioned, the same delete is a COW rewrite. */
  private def rows(ids: Seq[Long]): DataFrame =
    ids.toDF("id").withColumn("v", concat(lit("r"), col("id")))
      .withColumn("g", col("id") % 2)

  private def pred(mod: Int, rem: Int) = col("id") % mod === rem

  /** Apply one op; the op index makes appended and merged-in keys
    * fresh. A vacuum keeps `rangeStart` and records the snapshot of the
    * predecessor it drops in `gone`, for the row diff. */
  private def apply(dir: String, op: Op, i: Int, rangeStart: Long,
                    gone: mutable.Map[Long, Seq[(Long, String)]]): Unit = op match {
    case Append(n) =>
      Snapshots.commitAppend(rows((0 until n).map(k => 100L * (i + 1) + k)), dir)
    case CowDelete(m, r) => Snapshots.deleteWhere(spark, dir, pred(m, r))
    case DropPartition(g) => Snapshots.deleteWhere(spark, dir, col("g") === g)
    case DvDelete(m, r) =>
      Snapshots.deleteWhere(spark, dir, pred(m, r), deletionVectors = true)
    case Update(m, r) =>
      Snapshots.updateWhere(spark, dir, pred(m, r),
        Map("v" -> concat(col("v"), lit("!"))))
    case Merge(hit, tombstone) =>
      val keys = hit :+ (100L * (i + 1) + 50)
      val src = keys.zipWithIndex.map { case (k, j) =>
        (k, if (tombstone && j == 0) "dead" else s"m$k")
      }.toDF("id", "v").withColumn("g", col("id") % 2)
      Snapshots.merge(spark, dir, src, key = "id",
        deleteWhenMatched = Some(col("v") === "dead"))
    case Restore(back) =>
      Snapshots.restore(dir, math.max(Snapshots.earliestVersion(dir),
        Snapshots.currentVersion(dir) - back))
    case Compact => Snapshots.compact(spark, dir)
    case Vacuum =>
      val keep = math.min(Snapshots.currentVersion(dir), rangeStart)
      if (keep >= 1 && Snapshots.versionExists(dir, keep - 1))
        gone.getOrElseUpdate(keep - 1, snapshot(dir, keep - 1))
      Snapshots.vacuum(dir, keep)
  }

  private type Change = (Long, String, String)

  private def triples(df: DataFrame): Seq[Change] =
    df.select("id", "v", Snapshots.ChangeTypeCol).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  /** One AvailableNow drain of the change-feed stream. */
  private def drain(dir: String, cp: String, start: Long): Seq[Change] = {
    val got = mutable.ArrayBuffer[Change]()
    val q = spark.readStream.format("graft-snapshots")
      .option("readChangeFeed", "true")
      .option("startingVersion", start.toString)
      .load(dir)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val t = triples(b)
        got.synchronized { got ++= t }
        ()
      }
      .start()
    q.awaitTermination()
    got.toSeq
  }

  private def counts[T](xs: Seq[(T, Int)]): Map[T, Int] =
    xs.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)

  private def net(feed: Seq[Change]): Map[(Long, String), Int] =
    counts(feed.map { case (id, v, t) =>
      (id, v) -> (if (t == "insert" || t == "update_postimage") 1 else -1)
    })

  private def snapshot(dir: String, v: Long): Seq[(Long, String)] =
    if (v < 0) Seq.empty
    else Snapshots.read(spark, dir, v).select("id", "v").collect().toSeq
      .map((r: Row) => (r.getLong(0), r.getString(1)))

  /** Outcome of one face: its rows, or the refusal's message. */
  private def outcome(body: => Seq[Change]): Either[String, Seq[Change]] =
    try Right(body) catch {
      case e: StreamingQueryException => Left(String.valueOf(e.getCause))
      case e: IllegalStateException => Left(e.toString)
    }

  private def check(c: Case): Prop = {
    val dir = fresh()
    val cp = fresh()
    Snapshots.commit(rows(Seq(0L, 1L, 2L, 3L, 4L, 5L)), dir,
      partitionBy = if (c.partitioned) Seq("g") else Nil) // v0
    Snapshots.setChangeFeed(dir, true) // v1
    // stream drains start only once the head reaches the range start,
    // so a clamped start below can only happen when none ran yet
    val planned = math.max(0L, 1L + c.ops.size - c.startBack)
    var stream: Either[String, Seq[Change]] = Right(Seq.empty)
    def drainIfDue(due: Boolean): Unit =
      if (due && Snapshots.currentVersion(dir) >= planned)
        stream = stream.flatMap(acc =>
          outcome(drain(dir, cp, planned)).map(acc ++ _))
    val gone = mutable.Map[Long, Seq[(Long, String)]]()
    c.ops.zipWithIndex.foreach { case (op, i) =>
      apply(dir, op, i, planned, gone)
      drainIfDue(c.drains(i))
    }
    val head = Snapshots.currentVersion(dir)
    val from = math.min(planned, head)
    if (head >= planned) drainIfDue(true)
    else stream = outcome(drain(dir, cp, from))
    val batch = outcome(triples(Snapshots.changeFeed(spark, dir, from, Some(head))))
    val diff = counts(snapshot(dir, head).map(_ -> 1) ++
      gone.getOrElse(from - 1, snapshot(dir, from - 1)).map(_ -> -1))
    val label = s"range [$from, $head]; batch=$batch; stream=$stream; diff=$diff"
    val agree = (batch, stream) match {
      case (Left(_), Left(_)) => true
      case (Right(b), Right(s)) =>
        b.groupBy(identity).view.mapValues(_.size).toMap ==
          s.groupBy(identity).view.mapValues(_.size).toMap && net(b) == diff
      case _ => false
    }
    Prop(agree) :| label
  }

  test("batch change feed, concatenated stream deliveries and the snapshot row diff agree over random histories") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(10)
      .withWorkers(1)
      .withInitialSeed(Seed(20261019L))
    val res = Test.check(params, Prop.forAllNoShrink(genCase)(check))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res,
      org.scalacheck.util.Pretty.Params(2)))
  }
}

object ChangeFeedPropertySpec {
  sealed trait Op
  final case class Append(n: Int) extends Op
  final case class CowDelete(mod: Int, rem: Int) extends Op
  final case class DropPartition(g: Int) extends Op
  final case class DvDelete(mod: Int, rem: Int) extends Op
  final case class Update(mod: Int, rem: Int) extends Op
  /** Source keys = `hit` existing-or-gone keys plus one fresh key;
    * `tombstone` marks the first source row as a matched delete. */
  final case class Merge(hit: Seq[Long], tombstone: Boolean) extends Op
  final case class Restore(back: Int) extends Op
  case object Compact extends Op
  /** Vacuum everything below the head or the range start, whichever
    * is lower. */
  case object Vacuum extends Op

  /** Whether the table is partitioned by g, a history of ops, the
    * range start as an offset back from the planned head (ops that
    * change nothing may commit nothing, so the start is clamped to the
    * real head), and after which ops the stream drains (after the last
    * always). */
  final case class Case(partitioned: Boolean, ops: Seq[Op], startBack: Int,
                        drains: Seq[Boolean])
}
