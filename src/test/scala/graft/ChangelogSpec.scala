package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cdc.Changelog

/** Batch CDC semantics, mirroring the reference's own test contract
  * (`test/dumpr/core_test.clj`): the op stream folds to the same
  * entity map as replaying the history; snapshot + changelog compose.
  */
class ChangelogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // hand-built changelog: (pos, op, tbl, id, tx, val, us, etype)
  private def log(rows: (Long, String, String, Long, Long, Double, String)*) =
    rows.toSeq
      .map { case (pos, op, tbl, id, tx, v, et) => (pos, op, tbl, id, tx, v, pos * 1000L, et) }
      .toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")

  test("entityState: later ops win, deletes drop (into-entity-map)") {
    val l = log(
      (1, "upsert", "t", 1, 0, 1.0, "x"),
      (2, "upsert", "t", 1, 0, 2.0, "x"),
      (3, "upsert", "t", 2, 0, 9.0, "x"),
      (4, "delete", "t", 2, 0, 0.0, "x"))
    val out = Changelog.entityState(l).collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(1L -> 2.0))
  }

  test("expandUpdateImages: PK-changing update tombstones the old key, swap resolves") {
    // (pos, op, tbl, old_id, id, val) — update rows carry both images
    val l = Seq(
      (1L, "upsert", "t", -1L, 1L, 1.0),
      (2L, "upsert", "t", -1L, 2L, 2.0),
      (3L, "update", "t", 1L, 10L, 1.5),  // PK change 1 → 10
      (4L, "update", "t", 2L, 2L, 2.5),   // PK-stable update
      // one multi-row UPDATE at pos 5 swaps PKs 10 ↔ 2: each key gets a
      // tombstone (from its before-image) AND an upsert (from the other
      // row's after-image) at the SAME pos — both must survive
      (5L, "update", "t", 10L, 2L, 10.5),
      (5L, "update", "t", 2L, 10L, 2.6)
    ).map { case (pos, op, tbl, o, id, v) => (pos, op, tbl, o, id, 0L, v, pos * 1000L, "x") }
      .toDF("pos", "op", "tbl", "old_id", "id", "tx", "val", "us", "etype")
    val prim = Changelog.expandUpdateImages(l)
    // pos 3 expands to delete(1)@img0 + upsert(10)@img1
    val p3 = prim.filter(col("pos") === 3)
      .select("op", "id", "img").as[(String, Long, Int)].collect().toSet
    assert(p3 == Set(("delete", 1L, 0), ("upsert", 10L, 1)))
    // pos 4 stays a single upsert (no tombstone for PK-stable updates)
    val p4 = prim.filter(col("pos") === 4)
      .select("op", "id").as[(String, Long)].collect().toSet
    assert(p4 == Set(("upsert", 2L)))
    val state = Changelog.entityState(prim)
      .select("id", "val", "last_pos").as[(Long, Double, Long)].collect().toSet
    // key 1 is dead (tombstoned at pos 3); the swap leaves 2 and 10
    // both alive with the pos-5 after-image values
    assert(state == Set((2L, 10.5, 5L), (10L, 2.6, 5L)))
  }

  test("filterCommitted drops every event of a rolled-back tx") {
    val l = log(
      (1, "upsert", "t", 1, 10, 1.0, "x"),
      (2, "upsert", "t", 2, 11, 2.0, "error"), // tx 11 rolls back
      (3, "upsert", "t", 3, 11, 3.0, "x"),
      (4, "upsert", "t", 4, 12, 4.0, "x"))
    val keep = Changelog.filterCommitted(l).select("pos").as[Long].collect().sorted
    assert(keep.toSeq == Seq(1L, 4L))
  }

  test("attachFile carries last rotate file and removes rotates") {
    val l = log(
      (1, "upsert", "t", 7, 0, 1.0, "x"),
      (2, "upsert", "t", 3, 0, 1.0, "signup"), // rotate → bin.000003
      (3, "upsert", "t", 8, 0, 1.0, "x"),
      (4, "upsert", "t", 5, 0, 1.0, "signup"), // rotate → bin.000005
      (5, "upsert", "t", 9, 0, 1.0, "x"))
    val out = Changelog.attachFile(l).select("pos", "file").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "bin.000000", 3L -> "bin.000003", 5L -> "bin.000005"))
  }

  test("attachFile handles sparse 64-bit byte-offset ranges (binary search)") {
    // realistic binlog positions: byte offsets spread over ~10^12.
    // A fixed 4096-wide bucket explode would need ~2.4·10^8 rows here
    // (and overflow sequence() past 2^31 buckets); a binary search over
    // the sorted rotate starts does not depend on the range at all.
    val l = log(
      (3L, "upsert", "t", 1, 0, 1.0, "x"),
      (500000000000L, "upsert", "t", 7, 0, 1.0, "signup"), // rotate → bin.000007
      (500000000001L, "upsert", "t", 2, 0, 1.0, "x"),
      (999999999999L, "upsert", "t", 4, 0, 1.0, "x"))
    val out = Changelog.attachFile(l).select("pos", "file").as[(Long, String)].collect().toMap
    assert(out == Map(
      3L -> "bin.000000",
      500000000001L -> "bin.000007",
      999999999999L -> "bin.000007"))
  }

  test("snapshotLoadAll: caller order preserved, per-table id-fns (create-table-stream)") {
    val widgets = Seq((1L, "w1", 10L), (2L, "w2", 20L)).toDF("w_id", "w_name", "w_qty")
    val makers = Seq((7L, 1L, "m1")).toDF("m_region", "m_seq", "m_name")
    val out = Changelog.snapshotLoadAll(Seq(
      // deliberately non-alphabetical: widgets BEFORE makers
      Changelog.TableLoad(widgets, "widgets", "w_id", Seq("w_name", "w_qty")),
      Changelog.TableLoad(makers, "makers", "m_seq", Seq("m_name"),
        // reference id-fn: constructed id when no single-column PK
        idFn = Some(col("m_region") * 100 + col("m_seq")))))
      .as[(Int, String, String, Long, String)].collect().toSet
    assert(out == Set(
      (0, "upsert", "widgets", 1L, "w1|10"),
      (0, "upsert", "widgets", 2L, "w2|20"),
      (1, "upsert", "makers", 701L, "m1")))
    // strict caller order is recoverable from load_order
    val orders = out.toSeq.groupBy(_._3).view.mapValues(_.head._1).toMap
    assert(orders("widgets") < orders("makers"))
  }

  test("validatePositions: lib-produced resume tokens validate, bogus ones don't") {
    val l = log(
      (1, "upsert", "t", 7, 0, 1.0, "x"),
      (2, "upsert", "t", 3, 0, 1.0, "signup"), // rotate → bin.000003
      (3, "upsert", "t", 8, 0, 1.0, "x"),
      (5, "upsert", "t", 9, 0, 1.0, "x"))
    val positions = Changelog.binlogPositions(l)
    val next = Changelog.nextPosition(l).select(col("file"), col("next_pos").as("pos"))
    val tokens = next.unionByName(Seq(
      ("bin.999999", 1L),     // unknown file
      ("bin.000003", 99L),    // past the file's extent
      ("bin.000000", 2L)      // within the pre-rotate file
    ).toDF("file", "pos"))
    val out = Changelog.validatePositions(positions, tokens)
      .as[(String, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out(("bin.000003", 6L)) == 1, "nextPosition token must validate")
    assert(out(("bin.999999", 1L)) == 0)
    assert(out(("bin.000003", 99L)) == 0)
    assert(out(("bin.000000", 2L)) == 1)
  }

  test("multi-row mutations fan out to per-row events (streaming-multirow-updates)") {
    val events = Seq(
      (1L, "upsert", "t", Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))), // multi-row insert
      (2L, "upsert", "t", Seq((1L, 9.0), (2L, 9.0))),            // one UPDATE, two rows
      (3L, "delete", "t", Seq((3L, 0.0)))                        // delete
    ).toDF("pos", "op", "tbl", "rows")
    val perRow = Changelog.fanOutRows(events)
      .select((col("pos") * 1000 + col("row_idx")).as("pos"), col("op"), col("tbl"),
        col("vals._1").as("id"), col("vals._2").as("val"))
    assert(perRow.count() == 6, "one tuple per contained row")
    // the fold over fanned-out tuples equals the statement-level intent
    val state = Changelog.entityState(perRow)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(state == Map(1L -> 9.0, 2L -> 9.0))
  }

  test("filterDatabase keeps one db's events, drops rows without db info") {
    val raw = Seq(
      (1L, "write", "app", "t1"),
      (2L, "write", "other", "t2"),
      (3L, "marker", null, null)
    ).toDF("pos", "kind", "db", "tbl")
    val keep = Changelog.filterDatabase(raw, "app").select("pos").as[Long].collect()
    assert(keep.toSeq == Seq(1L))
  }

  test("groupTableMaps: mutations inherit the latest preceding table map per file") {
    val raw = Seq(
      // file A: map(app, t1) → writes; later map(app, t2) → delete
      ("A", 1L, "table_map", "app", "t1", 0.0),
      ("A", 2L, "write", null, null, 1.0),
      ("A", 3L, "marker", null, null, 0.0),
      ("A", 4L, "write", null, null, 2.0),
      ("A", 5L, "table_map", "app", "t2", 0.0),
      ("A", 6L, "delete", null, null, 0.0),
      // file B: mutation BEFORE any table map → null (DLQ-routable);
      // file A's map must not leak across files
      ("B", 1L, "write", null, null, 9.0),
      ("B", 2L, "table_map", "oth", "t9", 0.0),
      ("B", 3L, "update", null, null, 8.0)
    ).toDF("file", "pos", "kind", "db", "tbl", "value")
    val out = Changelog.groupTableMaps(raw)
      .select("file", "pos", "kind", "db", "tbl")
      .as[(String, Long, String, String, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out(("A", 2L)) == (("write", "app", "t1")))
    assert(out(("A", 4L)) == (("write", "app", "t1")))
    assert(out(("A", 6L)) == (("delete", "app", "t2")))
    assert(out(("A", 3L)) == (("marker", null, null))) // passes alone
    assert(out(("B", 1L)) == (("write", null, null))) // no map yet
    assert(out(("B", 3L)) == (("update", "oth", "t9")))
    assert(!out.keySet.exists(k => out(k)._1 == "table_map"), "maps removed")
    assert(out.size == 6)
  }

  test("applyChangelog: log wins, final deletes drop snapshot rows") {
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "val")
    val l = log(
      (1, "upsert", "customer", 2, 0, 99.0, "x"), // update existing
      (2, "delete", "customer", 3, 0, 0.0, "x"), // delete existing
      (3, "upsert", "customer", 4, 0, 44.0, "x")) // insert new
    val out = Changelog.applyChangelog(snap, l, "customer")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(out == Set((1L, 10.0, "snapshot"), (2L, 99.0, "log"), (4L, 44.0, "log")))
  }

  test("fold equivalence on the real events table (reference property)") {
    // replaying the committed op stream serially == entityState plan
    val l = Changelog.filterCommitted(
      Changelog.fromEvents(Tables.events(spark, "/root/testdata/sf0.001")))
    val serial = l.orderBy("pos")
      .select("tbl", "id", "op", "val", "pos")
      .collect()
      .foldLeft(Map.empty[(String, Long), (Double, Long)]) { (m, r) =>
        val k = (r.getString(0), r.getLong(1))
        if (r.getString(2) == "upsert") m + (k -> ((r.getDouble(3), r.getLong(4)))) else m - k
      }
    val planned = Changelog.entityState(l).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(planned == serial)
  }

  test("snapshotLoad wraps rows as upserts with id from idCol") {
    val c = Tables.customer(spark, "/root/testdata/sf0.001")
    val out = Changelog.snapshotLoad(c, "customer", "c_custkey")
    assert(out.columns.take(3).toSeq == Seq("op", "tbl", "id"))
    assert(out.filter(col("op") =!= "upsert").count() == 0)
    assert(out.count() == c.count())
  }

  test("snapshotDiff: in-sync replica diffs empty; drift classified missing/extra/stale") {
    val log = Seq(
      (1L, "upsert", "t", 1L, 0L, 10.0, 0L, "x"),
      (2L, "upsert", "t", 2L, 0L, 20.0, 0L, "x"),
      (3L, "upsert", "t", 3L, 0L, 30.0, 0L, "x"),
      (4L, "delete", "t", 3L, 0L, 0.0, 0L, "x")
    ).toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")
    val inSync = Changelog.entityState(log).select("tbl", "id", "val")
    assert(Changelog.snapshotDiff(inSync, log).count() == 0,
      "a faithful replica must produce an empty diff")
    val drifted = Seq(
      ("t", 1L, 11.0), // stale (log says 10.0)
      ("t", 3L, 30.0), // extra (log tombstoned id 3)
      ("t", 9L, 90.0)  // extra (log never wrote id 9)
    ).toDF("tbl", "id", "val") // id 2 absent → missing
    val out = Changelog.snapshotDiff(drifted, log)
      .select("id", "kind").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "stale"), (2L, "missing"), (3L, "extra"), (9L, "extra")))
  }

  test("repairPlan round-trip: applying the plan to the drifted replica restores sync") {
    val log = Seq(
      (1L, "upsert", "t", 1L, 0L, 10.0, 0L, "x"),
      (2L, "upsert", "t", 2L, 0L, 20.0, 0L, "x"),
      (3L, "upsert", "t", 3L, 0L, 30.0, 0L, "x"),
      (4L, "delete", "t", 3L, 0L, 0.0, 0L, "x")
    ).toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")
    val drifted = Seq(
      ("t", 1L, 11.0), ("t", 3L, 30.0), ("t", 9L, 90.0)
    ).toDF("tbl", "id", "val")
    val plan = Changelog.repairPlan(Changelog.snapshotDiff(drifted, log))
    assert(plan.select("id", "op").as[(Long, String)].collect().toSet ==
      Set((1L, "upsert"), (2L, "upsert"), (3L, "delete"), (9L, "delete")))
    // apply the plan the way any changelog is applied: later op per
    // key wins, deletes drop — replica must fold to the log's state
    val repaired = drifted
      .join(plan.select(col("tbl"), col("id"),
        col("op").as("fix_op"), col("val").as("fix_val")), Seq("tbl", "id"), "full_outer")
      .filter(coalesce(col("fix_op"), lit("upsert")) === "upsert")
      .select(col("tbl"), col("id"), coalesce(col("fix_val"), col("val")).as("val"))
    assert(Changelog.snapshotDiff(repaired, log).count() == 0,
      "repaired replica must diff empty")
  }

  test("scd2: change-detected versions, deletes close, no-op upserts extend") {
    val l = log(
      (1, "upsert", "t", 1, 0, 1.0, "x"),  // opens v1 [1, 3)
      (2, "upsert", "t", 1, 0, 1.0, "x"),  // no-op: same value, extends v1
      (3, "upsert", "t", 1, 0, 2.0, "x"),  // change: closes v1, opens v2 [3, 5)
      (5, "delete", "t", 1, 0, 0.0, "x"),  // closes v2, emits nothing
      (6, "delete", "t", 1, 0, 0.0, "x"),  // repeated delete: no-op
      (8, "upsert", "t", 1, 0, 2.0, "x"),  // reopen after delete [8, null)
      (4, "upsert", "t", 2, 0, 9.0, "x"))  // independent key, current
    val out = Changelog.scd2(l)
      .collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getInt(5)))
      .toSet
    assert(out == Set(
      (1L, 1.0, 1L, 3L, 0),   // v1 closed by the pos-3 change
      (1L, 2.0, 3L, 5L, 0),   // v2 closed by the delete
      (1L, 2.0, 8L, -1L, 1),  // reopened, current
      (2L, 9.0, 4L, -1L, 1)))
    // versions replay to entity state: current scd2 rows == entityState
    val current = Changelog.scd2(l).filter(col("is_current") === 1)
      .select(col("tbl"), col("id"), col("val"))
    val state = Changelog.entityState(l).select(col("tbl"), col("id"), col("val"))
    assert(current.exceptAll(state).count() == 0 && state.exceptAll(current).count() == 0)
  }

  test("erasurePlan: deletes exactly the subjects' live keys; applying it erases them") {
    import spark.implicits._
    val l = log(
      (1, "upsert", "t", 1, 0, 1.0, "x"),
      (2, "upsert", "t", 2, 0, 2.0, "x"),
      (3, "upsert", "u", 1, 0, 3.0, "x"),
      (4, "delete", "t", 2, 0, 0.0, "x"),  // id 2 already gone
      (5, "upsert", "t", 3, 0, 5.0, "x"))
    val subjects = Seq(1L, 2L).toDF("id") // 2's rows are all dead already
    val plan = Changelog.erasurePlan(l, subjects)
    val planned = plan.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(planned == Set(("t", 1L, "delete"), ("u", 1L, "delete")),
      "only LIVE subject keys get a tombstone — across every table")
    // applying the plan through the normal fold leaves no subject rows
    val maxPos = 5L
    val applied = Changelog.entityState(l.select(col("pos"), col("op"), col("tbl"),
        col("id"), col("val"))
      .unionByName(plan.select(lit(maxPos + 1).as("pos"), col("op"), col("tbl"),
        col("id"), col("val"))))
    assert(applied.join(subjects, Seq("id"), "left_semi").count() == 0,
      "post-erasure state holds nothing for the subjects")
    assert(applied.count() == 1, "non-subject rows survive (t,3)")
  }

  test("temporalJoin: each fact sees the version valid at its own time") {
    import spark.implicits._
    val l = log(
      (1, "upsert", "t", 1, 0, 1.0, "x"),  // v1 [1, 3)
      (3, "upsert", "t", 1, 0, 2.0, "x"),  // v2 [3, 5)
      (5, "delete", "t", 1, 0, 0.0, "x"),  // gone [5, 8)
      (8, "upsert", "t", 1, 0, 3.0, "x"))  // v3 [8, ∞)
    val versions = Changelog.scd2(l)
    val facts = Seq((0L, "t", 1L), (2L, "t", 1L), (3L, "t", 1L),
        (6L, "t", 1L), (9L, "t", 1L))
      .toDF("fpos", "tbl", "id")
    val out = Changelog.temporalJoin(facts, versions, Seq("tbl", "id"), "fpos")
      .collect()
      .map(r => (r.getAs[Long]("fpos"),
        Option(r.getAs[java.lang.Double]("dim_val")).map(_.toDouble)))
      .toMap
    assert(out == Map(
      0L -> None,        // before the first version: nothing to see
      2L -> Some(1.0),   // v1 live
      3L -> Some(2.0),   // inclusive boundary: v2 opens AT the fact time
      6L -> None,        // deleted at 5 — the entity did not exist
      9L -> Some(3.0)))  // reopened
  }

  test("classifyStatements: anchored case-insensitive markers; unclassified statements drop") {
    val stmts = Seq(
      (1L, "BEGIN"),                        // exact
      (2L, "begin"),                        // case-insensitive
      (3L, "COMMIT /* xid 42 */"),          // prefix, trailing payload
      (4L, "commit work"),
      (5L, "rollback"),
      (6L, "Alter Table t1 ADD COLUMN c INT"),
      (7L, "INSERT INTO t VALUES (1)"),     // unclassified → dropped
      (8L, "SELECT 1"),                     // unclassified → dropped
      (9L, " BEGIN"),                       // NOT anchored at start → dropped
      (10L, "ALTERNATIVE PLAN")             // 'ALTER' alone must not match
    ).toDF("pos", "sql")
    val out = Changelog.classifyStatements(stmts)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "tx_begin", 2L -> "tx_begin", 3L -> "tx_commit", 4L -> "tx_commit",
      5L -> "tx_rollback", 6L -> "alter_table"))
  }
}
