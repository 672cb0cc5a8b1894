package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.cdc.{Changelog, SchemaRegistry}
import graft.cdc.SchemaRegistry.ColSpec

/** Property-based CDC semantics, mirroring the reference's generative
  * tests (`test/dumpr/core_test.clj`: `gen-ops-sequence`,
  * `table-loading`, `streaming`): for ANY op history, the declarative
  * plans must equal the serial `into-entity-map` fold, and
  * snapshot ⊎ changelog must equal the fold of the full history.
  */
class ChangelogPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (op, tbl, id, value) histories over a small key space (like the
  // reference's gen-ids) so updates/deletes actually collide
  private val genOps: Gen[List[(String, String, Long, Double)]] =
    Gen.listOfN(60, for {
      op <- Gen.frequency(3 -> Gen.const("upsert"), 1 -> Gen.const("delete"))
      tbl <- Gen.oneOf("customer", "orders")
      id <- Gen.choose(0L, 9L)
      v <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (op, tbl, id, v))

  private def toDf(ops: List[(String, String, Long, Double)]) =
    ops.zipWithIndex.map { case ((op, tbl, id, v), i) =>
      (i.toLong, op, tbl, id, i.toLong / 5, v, i.toLong * 1000, "x")
    }.toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")

  private def serialFold(ops: List[(String, String, Long, Double)]) =
    ops.foldLeft(Map.empty[(String, Long), Double]) { case (m, (op, tbl, id, v)) =>
      if (op == "upsert") m + ((tbl, id) -> v) else m - ((tbl, id))
    }

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // (deleted intervals are legitimate gaps between versions — the
  // property is strict ordering without OVERLAP, one open tail, and
  // exact agreement of the open versions with the entity fold)
  test("scd2: versions never overlap, at most one open tail, current == state") {
    check(Prop.forAll(genOps) { ops =>
      val vers = Changelog.scd2(toDf(ops)).collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(3), if (r.isNullAt(4)) Long.MaxValue else r.getLong(4),
            r.getDouble(2), r.getInt(5))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
      // per key: strictly ordered, non-overlapping intervals; at most
      // one open (current) version, and it is the last
      val tiled = vers.values.forall { vs =>
        vs.sliding(2).forall {
          case Array((_, to1, _, _), (from2, _, _, _)) => to1 <= from2
          case _ => true
        } && vs.count(_._2 == Long.MaxValue) <= 1 &&
          vs.dropRight(1).forall(_._4 == 0) &&
          vs.forall { case (f, t, _, cur) => f < t && ((cur == 1) == (t == Long.MaxValue)) }
      }
      // current versions reproduce the serial fold exactly
      val current = vers.collect {
        case (k, vs) if vs.nonEmpty && vs.last._2 == Long.MaxValue => k -> vs.last._3
      }
      tiled && current == serialFold(ops)
    }, 8)
  }

  test("entityState equals into-entity-map for arbitrary histories") {
    check(Prop.forAll(genOps) { ops =>
      val planned = Changelog.entityState(toDf(ops)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      planned == serialFold(ops)
    }, 8)
  }

  test("snapshot + changelog == fold of full history (reference streaming test)") {
    check(Prop.forAll(genOps, Gen.choose(0, 59)) { (ops, splitAt) =>
      val (initial, streamed) = ops.splitAt(splitAt)
      // snapshot = fold of the initial segment, restricted to 'customer'
      val snapshot = serialFold(initial).collect {
        case ((tbl, id), v) if tbl == "customer" => (id, v)
      }.toSeq.toDF("id", "val")
      // changelog continues from pos = splitAt
      val log = streamed.zipWithIndex.map { case ((op, tbl, id, v), i) =>
        val pos = (splitAt + i).toLong
        (pos, op, tbl, id, pos / 5, v, pos * 1000, "x")
      }.toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")
      val applied = Changelog.applyChangelog(snapshot, log, "customer")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expected = serialFold(ops).collect { case (("customer", id), v) => id -> v }.toMap
      applied == expected
    }, 6)
  }

  test("log compaction preserves replay semantics on arbitrary histories") {
    check(Prop.forAll(genOps) { ops =>
      val log = toDf(ops)
      val compact = Changelog.logCompact(log)
      // the compacted segment folds to the identical state...
      val s1 = Changelog.entityState(log).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val s2 = Changelog.entityState(compact).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // ...holds exactly one op per touched key (tombstones included)...
      val keys = compact.collect().map(r => (r.getString(2), r.getLong(3)))
      val touched = ops.map(o => (o._2, o._3)).toSet
      // ...and is a fixpoint of compaction
      val twice = Changelog.logCompact(compact).collect().map(_.toSeq).toSet
      s1 == s2 && keys.length == keys.toSet.size && keys.toSet == touched &&
        twice == compact.collect().map(_.toSeq).toSet
    }, 6)
  }

  // (pos, rotate file or None) logs in position order: dense or sparse
  // 64-bit positions, rotates placed at random, first, last, back to
  // back, nowhere or everywhere
  private val genRotateLog: Gen[List[(Long, Option[Long])]] = for {
    n <- Gen.choose(1, 40)
    sparse <- Gen.oneOf(false, true)
    gaps <- Gen.listOfN(n, if (sparse) Gen.choose(1L, 1L << 40) else Gen.const(1L))
    start <- if (sparse) Gen.choose(0L, 1L << 50) else Gen.const(0L)
    at <- Gen.choose(0, n - 1)
    random <- Gen.listOfN(n, Gen.choose(0, 4).map(_ == 0))
    placement <- Gen.choose(0, 5)
    files <- Gen.listOfN(n, Gen.choose(0L, 999999L))
  } yield gaps.scanLeft(start)(_ + _).tail.zipWithIndex.map { case (pos, i) =>
    val rotate = placement match {
      case 0 => false
      case 1 => true
      case 2 => i == 0
      case 3 => i == n - 1
      case 4 => i == at || i == at + 1
      case _ => random(i)
    }
    pos -> Option.when(rotate)(files(i))
  }

  test("attachFile equals the serial add-binlog-filename fold") {
    check(Prop.forAll(genRotateLog) { events =>
      val df = spark.sparkContext.parallelize(events.map { case (pos, rot) =>
        (pos, "upsert", "t", rot.getOrElse(1L), pos / 5, 1.0, if (rot.isDefined) "signup" else "x")
      }, 2).toDF("pos", "op", "tbl", "id", "tx", "val", "etype")
      val planned = Changelog.attachFile(df).select("pos", "file").as[(Long, String)].collect().toMap
      // stream.clj:56-77: the current file changes at each rotate,
      // which itself leaves the stream
      val serial = events.foldLeft((Changelog.DefaultFile, Map.empty[Long, String])) {
        case ((_, out), (_, Some(f))) => (f"bin.$f%06d", out)
        case ((file, out), (pos, None)) => (file, out + (pos -> file))
      }._2
      planned == serial
    }, 12)
  }

  test("withAlters equals the hand-computed registry") {
    val base = SchemaRegistry.base(spark, Map(
      "t" -> Seq(ColSpec("id", "bigint"), ColSpec("body", "text", "latin1")),
      "u" -> Seq(ColSpec("id", "bigint"))))
    def reg(alters: (String, Long)*) =
      SchemaRegistry.withAlters(base, alters.toDF("tbl", "pos")).collect().map { r =>
        (r.getString(0), r.getInt(1), r.getLong(2), Option(r.getSeq[String](3)),
          Option(r.getSeq[String](4)), Option(r.getSeq[String](5)), r.getLong(6),
          Option(r.get(7)), Option(r.getString(8)))
      }.toSet
    val (min, max) = (Long.MinValue, Long.MaxValue)
    val t0 = ("t", 0, min, Some(Seq("id", "body")), Some(Seq("bigint", "text")),
      Some(Seq(null, "latin1")), max, Some(2), Some("id,body"))
    val u0 = ("u", 0, min, Some(Seq("id")), Some(Seq("bigint")), Some(Seq(null)), max,
      Some(1), Some("id"))
    assert(reg() == Set(t0, u0))
    // three ALTERs of t, out of position order
    assert(reg(("t", 9L), ("t", 5L), ("t", 7L)) == Set(t0.copy(_7 = 5L), u0,
      ("t", 1, 5L, Some(Seq("id", "body", "extra_1")), Some(Seq("bigint", "text", "bigint")),
        Some(Seq(null, "latin1", null)), 7L, Some(3), Some("id,body,extra_1")),
      ("t", 2, 7L, Some(Seq("id", "body", "extra_1", "extra_2")),
        Some(Seq("bigint", "text", "bigint", "bigint")), Some(Seq(null, "latin1", null, null)),
        9L, Some(4), Some("id,body,extra_1,extra_2")),
      ("t", 3, 9L, Some(Seq("id", "body", "extra_1", "extra_2", "extra_3")),
        Some(Seq("bigint", "text", "bigint", "bigint", "bigint")),
        Some(Seq(null, "latin1", null, null, null)), max, Some(5),
        Some("id,body,extra_1,extra_2,extra_3"))))
    // an ALTER of an unregistered table: NULL arrays, size and signature
    assert(reg(("x", 4L)) == Set(t0, u0, ("x", 1, 4L, None, None, None, max, None, None)))
    // two ALTERs of u at one position: the earlier version's interval is empty
    assert(reg(("u", 6L), ("u", 6L)) == Set(t0, u0.copy(_7 = 6L),
      ("u", 1, 6L, Some(Seq("id", "extra_1")), Some(Seq("bigint", "bigint")),
        Some(Seq(null, null)), 6L, Some(2), Some("id,extra_1")),
      ("u", 2, 6L, Some(Seq("id", "extra_1", "extra_2")), Some(Seq("bigint", "bigint", "bigint")),
        Some(Seq(null, null, null)), max, Some(3), Some("id,extra_1,extra_2"))))
  }

  test("nextPosition on an empty log and on a log without rotates") {
    def next(events: Seq[(Long, String)]) = Changelog.nextPosition(
      events.map { case (pos, etype) => (pos, "upsert", "t", 3L, pos / 5, 1.0, etype) }
        .toDF("pos", "op", "tbl", "id", "tx", "val", "etype"))
      .collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assert(next(Nil) == Seq((Changelog.DefaultFile, None)))
    assert(next(Seq((4L, "x"), (11L, "x"), (7L, "x"))) == Seq((Changelog.DefaultFile, Some(12L))))
    assert(next(Seq((4L, "signup"), (11L, "x"), (7L, "x"))) == Seq(("bin.000003", Some(12L))))
  }
}
