package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.lit
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{UpsertSink, ViewLayout}
import graft.streaming.ChangelogStream.Change

/** Any interleaving of sparse publishes, kept deltas, compactions,
  * empty batches, replays and rebuckets reads like the serial
  * `into-entity-map` fold: the live view, every retained version and
  * zone-map range reads. */
class UpsertSinkPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private sealed trait Step
  /** A batch of (op, tbl, id) changes, positioned in order at run time. */
  private final case class Batch(ops: Seq[(String, String, Long)]) extends Step
  private case object Replay extends Step
  private final case class Rebucket(n: Int) extends Step

  private val bucketCounts = Seq(2, 4, 16)

  private def genOps(n: Int): Gen[Seq[(String, String, Long)]] =
    Gen.listOfN(n, for {
      op <- Gen.frequency(3 -> Gen.const("upsert"), 1 -> Gen.const("delete"))
      tbl <- Gen.oneOf("a", "b")
      id <- Gen.choose(0L, 9L)
    } yield (op, tbl, id))

  // dense batches cover most of the 20 keys, sparse ones 1-2; empty
  // batches, replays and rebuckets are interleaved
  private val genStep: Gen[Step] = Gen.frequency(
    5 -> Gen.choose(12, 30).flatMap(genOps).map(Batch(_)),
    3 -> Gen.choose(1, 2).flatMap(genOps).map(Batch(_)),
    1 -> Gen.const(Batch(Nil)),
    1 -> Gen.const(Replay),
    1 -> Gen.oneOf(bucketCounts).map(Rebucket(_)))

  private val genRun: Gen[(Int, Seq[(Step, Double, Double)])] = for {
    n <- Gen.oneOf(bucketCounts)
    steps <- Gen.listOfN(7, Gen.zip(genStep, Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)))
  } yield (n, steps)

  private type State = Map[(String, Long), (Double, Long)]

  private def rows(df: org.apache.spark.sql.DataFrame): State =
    df.select("tbl", "id", "value", "lastPos").as[(String, Long, Double, Long)].collect()
      .map { case (t, i, v, p) => (t, i) -> (v, p) }.toMap

  private def manifest(dir: String): Seq[String] =
    ViewLayout.currentVersion(dir).toSeq.flatMap { v =>
      new String(Files.readAllBytes(Paths.get(dir, s"$v.manifest")), "UTF-8").linesIterator.toSeq
    }

  test("any interleaving of appends, compactions, replays and rebuckets reads as the entity fold") {
    val stats = Seq("lastPos")
    var kept = 0
    var compacted = 0
    val prop = Prop.forAllNoShrink(genRun) { case (n0, steps) =>
      val dir = Files.createTempDirectory("graft_sink_prop").toString
      var nb = n0
      var pos = 0L
      var batchId = -1L
      var last: Seq[Change] = Nil
      var oracle: State = Map.empty
      var versions = Map.empty[String, State]
      steps.forall { case (step, a, b) =>
        val before = manifest(dir)
        step match {
          case Batch(ops) =>
            val changes = ops.map { case (op, t, id) =>
              pos += 1
              Change(pos, op, t, id, pos * 0.25)
            }
            batchId += 1
            last = changes
            UpsertSink.mergeBatch(changes.toDS(), dir, batchId, nb, 3, stats)
            oracle = changes.foldLeft(oracle) { (m, c) =>
              if (c.op == "upsert") m + ((c.tbl, c.id) -> (c.value, c.pos)) else m - ((c.tbl, c.id))
            }
            val after = manifest(dir)
            val cur = ViewLayout.currentVersion(dir).get
            if (after.contains(s"-1 $cur/_delta")) kept += 1
            if (before.exists(_.startsWith("-1 ")) && !after.exists(_.startsWith("-1 "))) compacted += 1
          case Replay =>
            if (batchId >= 0) UpsertSink.mergeBatch(last.toDS(), dir, batchId, nb, 3, stats)
          case Rebucket(m) =>
            UpsertSink.rebucket(spark, dir, m, 3, stats)
            nb = m
        }
        ViewLayout.currentVersion(dir).foreach(v => versions += v -> oracle)
        val lo = (a * (pos + 2)).toLong - 1
        val hi = lo + (b * (pos + 2)).toLong
        val inRange = oracle.filter { case (_, (_, p)) => p >= lo && p <= hi }
        rows(UpsertSink.readCurrent(spark, dir)) == oracle &&
          UpsertSink.retainedVersions(dir).forall(v =>
            rows(UpsertSink.readVersion(spark, dir, v)) == versions(s"v$v")) &&
          rows(UpsertSink.readCurrentRange(spark, dir, "lastPos", lit(lo), lit(hi))) == inRange &&
          !new java.io.File(dir).list().exists(_.startsWith("_staged_"))
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
    assert(kept > 0 && compacted > 0,
      s"both merge-on-read paths must run: $kept kept deltas, $compacted compactions")
  }
}
