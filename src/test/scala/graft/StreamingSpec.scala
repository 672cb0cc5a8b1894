package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.ChangelogStream
import graft.streaming.ChangelogStream.{Change, Entity, RawEvent, TxEvent}
import graft.streaming.EventStreams

/** Streaming semantics (SURVEY §2 B1-B5), driven through MemoryStream
  * + processAllAvailable — the reference's `core_test.clj` scenarios
  * re-expressed for Structured Streaming.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable(); q.stop()
  }

  test("B1: entityState folds a changelog stream (later ops win, deletes tombstone)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = ChangelogStream.entityState(in.toDS())
      .writeStream.format("memory").queryName("b1").outputMode("update").start()
    in.addData(
      Change(1, "upsert", "t", 1, 1.0),
      Change(2, "upsert", "t", 2, 2.0))
    q.processAllAvailable()
    in.addData(
      Change(3, "upsert", "t", 1, 9.0), // update id 1
      Change(4, "delete", "t", 2, 0.0)) // tombstone id 2
    drain(q)
    val last = spark.table("b1").groupBy("tbl", "id")
      .agg(max(struct(col("lastPos"), col("value"), col("live"))).as("s"))
      .select(col("id"), col("s.value"), col("s.live"))
      .as[(Long, Double, Boolean)].collect().toSet
    assert(last == Set((1L, 9.0, true), (2L, 0.0, false)))
  }

  test("B1 state TTL: expired tombstones leave the state store, live entities stay") {
    // NOTE: processAllAvailable HANGS under ProcessingTimeTimeout (the
    // engine always schedules another batch to check timeouts, so the
    // no-new-data latch never sets) — drive by polling instead.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = ChangelogStream.entityState(in.toDS(), tombstoneTtlMs = 300)
      .writeStream.format("memory").queryName("b1ttl").outputMode("update")
      .trigger(Trigger.ProcessingTime(100)).start()
    def awaitOutputRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (spark.table("b1ttl").count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(spark.table("b1ttl").count() >= n)
    }
    in.addData(Change(1, "upsert", "t", 1, 1.0), Change(2, "upsert", "t", 2, 2.0))
    awaitOutputRows(2)
    in.addData(Change(3, "delete", "t", 1, 0.0))
    awaitOutputRows(3) // state now: live id2 + tombstone id1
    // after the TTL lapses a (possibly empty) batch fires the timeout
    // and the tombstone leaves the store: numRowsTotal shrinks 2 → 1
    val deadline = System.currentTimeMillis + 30000
    def stateRows: Long = Option(q.lastProgress)
      .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    while (stateRows != 1 && System.currentTimeMillis < deadline) Thread.sleep(100)
    val total = stateRows
    q.stop()
    assert(total === 1, "tombstone for id 1 should have been removed (only live id 2 remains)")
    // the timeout path is silent: no extra output row for id 1 beyond its delete
    assert(spark.table("b1ttl").filter(col("id") === 1).count() === 2) // upsert + delete
  }

  test("B1c: event-time tombstone TTL — tombstone leaves the store when the WATERMARK passes pos + TTL") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    // pos is event-time MICROS; watermark 0 seconds so the clock is
    // exactly max-seen-pos; TTL 1000 ms. EventTimeTimeout never
    // busy-spins, so processAllAvailable works (unlike the B1 TTL).
    val q = ChangelogStream.entityStateEventTtl(
        in.toDS(), tombstoneTtlMs = 1000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("b1et").outputMode("update").start()
    in.addData(Change(10_000L, "upsert", "t", 1, 1.0),
               Change(20_000L, "upsert", "t", 2, 2.0))
    q.processAllAvailable() // watermark = 20 ms
    in.addData(Change(30_000L, "delete", "t", 1, 0.0))
    q.processAllAvailable() // id 1 tombstoned; timer at 30 ms + 1000 ms
    // the OTHER entity's traffic drives the watermark past the
    // timeout — no wall clock involved
    in.addData(Change(5_000_000L, "upsert", "t", 2, 3.0))
    q.processAllAvailable() // watermark 5 s; next batch fires the timer
    in.addData(Change(5_100_000L, "upsert", "t", 2, 4.0))
    q.processAllAvailable()
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    assert(stateRows === 1,
      "tombstone for id 1 should have left the store (only live id 2 remains)")
    // the expired entity returns: treated as brand-new state
    in.addData(Change(6_000_000L, "upsert", "t", 1, 7.0))
    drain(q)
    // expiry itself is silent: id 1's rows are upsert + delete + rebirth
    assert(spark.table("b1et").filter(col("id") === 1).count() === 3)
    val last = spark.table("b1et").filter(col("id") === 1)
      .orderBy(desc("lastPos")).as[Entity].head()
    assert(last.live && last.value == 7.0)
  }

  test("B1d: snapshot-seeded event-TTL state replays identically to a from-scratch run (B7 convention)") {
    implicit val sqlCtx = spark.sqlContext
    def lastState(table: String): Set[(Long, Double, Boolean, Long)] =
      spark.table(table).groupBy("tbl", "id")
        .agg(max(struct(col("lastPos"), col("value"), col("live"))).as("s"))
        .select(col("id"), col("s.value"), col("s.live"), col("s.lastPos"))
        .as[(Long, Double, Boolean, Long)].collect().toSet

    // ---- run A: the full log from scratch ----
    val inA = MemoryStream[Change]
    val qA = ChangelogStream.entityStateEventTtl(
        inA.toDS(), tombstoneTtlMs = 1000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("b1dA").outputMode("update").start()
    inA.addData(Change(10_000L, "upsert", "t", 1, 1.0),
                Change(20_000L, "upsert", "t", 2, 2.0))
    qA.processAllAvailable() // wm = 20 ms
    inA.addData(Change(30_000L, "delete", "t", 1, 0.0))
    qA.processAllAvailable() // snapshot point: id1 tombstoned, wm = 30 ms
    // a pre-snapshot straggler: LATE (25 ms < wm) → dropped by the watermark
    inA.addData(Change(25_000L, "upsert", "t", 3, 9.0))
    qA.processAllAvailable()
    inA.addData(Change(5_000_000L, "upsert", "t", 2, 3.0))
    qA.processAllAvailable() // wm → 5 s, past the tombstone's 1030 ms horizon
    inA.addData(Change(5_100_000L, "upsert", "t", 2, 4.0))
    qA.processAllAvailable() // timer fires, tombstone leaves the store
    inA.addData(Change(6_000_000L, "upsert", "t", 1, 7.0))
    drain(qA) // id1 reborn

    // ---- run B: bootstrap from the snapshot at position 30 ms, then the tail ----
    val snapshot = Seq(
      Entity("t", 1, 0.0, 30_000L, live = false), // the dead entity, seeded AS dead
      Entity("t", 2, 2.0, 20_000L, live = true)).toDS()
    val inB = MemoryStream[Change]
    val qB = ChangelogStream.entityStateEventTtl(
        inB.toDS(), initial = Some(snapshot),
        tombstoneTtlMs = 1000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("b1dB").outputMode("update").start()
    // same straggler: the snapshot-position FLOOR drops it (a fresh
    // query's watermark clock is 0 — without the floor it would be
    // accepted here and diverge from run A)
    inB.addData(Change(25_000L, "upsert", "t", 3, 9.0))
    qB.processAllAvailable()
    inB.addData(Change(5_000_000L, "upsert", "t", 2, 3.0))
    qB.processAllAvailable()
    inB.addData(Change(5_100_000L, "upsert", "t", 2, 4.0))
    qB.processAllAvailable() // seeded tombstone has no timer — expiry is retroactive
    inB.addData(Change(6_000_000L, "upsert", "t", 1, 7.0))
    drain(qB) // first touch past the horizon: treated as empty key, reborn

    val expected = Set(
      (1L, 7.0, true, 6_000_000L),
      (2L, 4.0, true, 5_100_000L))
    assert(lastState("b1dA") == expected)
    assert(lastState("b1dB") == expected,
      "snapshot-seeded run must converge to the from-scratch state")
    assert(spark.table("b1dA").filter(col("id") === 3).count() === 0)
    assert(spark.table("b1dB").filter(col("id") === 3).count() === 0,
      "pre-snapshot stragglers drop in the seeded run exactly as late rows drop from scratch")
  }

  test("B18c: streaming perceptual near-dup — band owners with in-flight hamming verify") {
    implicit val sqlCtx = spark.sqlContext
    // the batch phash spec's planted vectors: near twin flips exactly
    // two adjacent dHash bits (hamming 2 = the radius); the reversed
    // vector shares no band chunk
    val base = Array.tabulate(16)(i => if (i % 2 == 0) 0.1f else 0.9f)
    val near = base.clone(); near(2) = 0.95f
    val far = Array.tabulate(16)(i => if (i % 2 == 0) 0.9f else 0.1f)
    val in = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = EventStreams.phashBandHits(
        in.toDF().toDF("media_id", "ts", "features"),
        dim = 16, maxHamming = 2, watermark = "0 seconds")
      .writeStream.format("memory").queryName("b18b").outputMode("update").start()
    in.addData((1L, ts(1000), base), (4L, ts(1000), far))
    q.processAllAvailable() // both novel: each owns its buckets
    in.addData((2L, ts(2000), near), (3L, ts(2000), base))
    drain(q)
    val hits = spark.table("b18b")
      .as[(Long, Int, Long, Int)].collect()
    def byMedia(id: Long) = hits.filter(_._1 == id)
    // first-seen rows own their buckets at hamming 0
    assert(byMedia(1L).forall(h => h._3 == 1L && h._4 == 0))
    assert(byMedia(4L).forall(h => h._3 == 4L && h._4 == 0))
    // the near twin lands in id 1's surviving bands, VERIFIED at
    // hamming 2 — a consumer needs no re-verify pass
    val nearHits = byMedia(2L).filter(_._3 == 1L)
    assert(nearHits.nonEmpty && nearHits.forall(_._4 == 2),
      s"near twin must hit owner 1 at hamming 2, got ${byMedia(2L).toSeq}")
    // the exact copy re-hits every band of owner 1 at hamming 0
    val copyHits = byMedia(3L)
    assert(copyHits.nonEmpty && copyHits.forall(h => h._3 == 1L && h._4 == 0))
    // the far vector never pairs with 1's buckets
    assert(byMedia(4L).forall(_._3 == 4L))
  }

  test("B18d: streaming semantic near-dup — band owners with in-flight cosine verify, batch-consistent") {
    implicit val sqlCtx = spark.sqlContext
    // tight near-twin (cos ≈ 0.9996 — collides in every band at 8×6),
    // an exact copy (cos 1.0), and the NEGATED vector (cos −1: every
    // hyperplane sign flips, so no band bucket can ever collide —
    // deterministic, unlike a random far vector at this geometry)
    val base = Array.tabulate(64)(i => ((i * 37 % 19) - 9) / 9.0f)
    val near = base.clone(); near(5) = near(5) + 0.02f
    val anti = base.map(-_)
    val in = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = EventStreams.embeddingBandHits(
        in.toDF().toDF("vec_id", "ts", "embedding"), watermark = "0 seconds")
      .writeStream.format("memory").queryName("b18d").outputMode("update").start()
    in.addData((1L, ts(1000), base), (4L, ts(1000), anti))
    q.processAllAvailable() // both novel: each owns its buckets
    in.addData((2L, ts(2000), near), (3L, ts(2000), base))
    drain(q)
    val hits = spark.table("b18d").as[(Long, Int, Long, Double)].collect()
    def byVec(id: Long) = hits.filter(_._1 == id)
    // first-seen rows own their buckets at self-cosine (1.0 up to the
    // xy/(√xx·√yy) double rounding — not exactly 1)
    def selfCos(c: Double) = (c - 1.0).abs < 1e-12
    assert(byVec(1L).forall(h => h._3 == 1L && selfCos(h._4)))
    assert(byVec(4L).forall(h => h._3 == 4L && selfCos(h._4)))
    // the near twin hits owner 1's buckets VERIFIED above threshold —
    // a consumer needs no re-verify pass (cos ≈ 1 − 9e-6 by construction)
    val nearHits = byVec(2L).filter(_._3 == 1L)
    assert(nearHits.nonEmpty && nearHits.forall(h => h._4 > 0.99 && h._4 < 1.0 - 1e-7),
      s"near twin must hit owner 1 just below cos 1, got ${byVec(2L).toSeq}")
    // the exact copy re-hits every band of owner 1 at self-cosine
    assert(byVec(3L).nonEmpty && byVec(3L).forall(h => h._3 == 1L && selfCos(h._4)))
    // the negated vector owns its own buckets, never colliding with 1
    assert(byVec(4L).forall(_._3 == 4L))
    // batch consistency: the stream pairs each row against its bucket
    // OWNER only (the B18 owner model — transitive peer pairs are the
    // downstream batch pass's job), so its verified pairs are a SUBSET
    // of the batch miner's, and the set of docs it flags as dups must
    // equal the batch pair docs minus each group's first-seen keeper
    val corpus = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, base.toSeq), (4L, anti.toSeq))
      .toDF("vec_id", "embedding")
    val batchPairs = graft.operators.Dedup.embeddingPairsLsh(corpus, 0.9)
      .as[(Long, Long)].collect().toSet
    val streamPairs = hits.filter(h => h._3 != h._1 && h._4 >= 0.9)
      .map(h => (math.min(h._1, h._3), math.max(h._1, h._3))).toSet
    assert(streamPairs.subsetOf(batchPairs),
      s"stream $streamPairs must be owner-pairs of batch $batchPairs")
    val streamFlagged = hits.filter(h => h._3 != h._1 && h._4 >= 0.9).map(_._1).toSet
    assert(streamFlagged == Set(2L, 3L),
      s"every non-keeper batch dup must be flagged in-stream: $streamFlagged")
  }

  test("B28: streaming GTID window tracks per-source lo/hi; gap detector fires once across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val win = graft.cdc.Changelog.gtidExecuted(in.toDS().toDF(), "value")
      .writeStream.format("memory").queryName("b28w").outputMode("complete").start()
    val gaps = ChangelogStream.gtidGaps(in.toDS())
      .writeStream.format("memory").queryName("b28g").outputMode("append").start()
    in.addData("s1:3", "s1:1", "s1:2", "s2:10")
    win.processAllAvailable(); gaps.processAllAvailable()
    // contiguous within the batch (sorted before folding): no gaps yet
    assert(spark.table("b28g").count() === 0)
    in.addData("s1:7", "s1:4", "s2:10") // s1 skips 5-6; s2 re-delivers
    win.processAllAvailable(); gaps.processAllAvailable()
    drain(win); drain(gaps)
    val w = spark.table("b28w").as[(String, Long, Long)].collect().toSet
    assert(w == Set(("s1", 1L, 7L), ("s2", 10L, 10L)))
    val g = spark.table("b28g").as[(String, Long, Long)].collect().toSet
    assert(g == Set(("s1", 5L, 6L)), "one gap row, exactly once, no s2 row for a re-delivery")
  }

  test("B28b: malformed GTIDs are dropped, not a crash; gaps on the clean lines still fire") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val gaps = ChangelogStream.gtidGaps(in.toDS())
      .writeStream.format("memory").queryName("b28bad").outputMode("append").start()
    in.addData("s1:1", "garbage", "nocolon", ":5", "s1:", "s1:abc", "s1:-5", "s1:2")
    gaps.processAllAvailable()
    in.addData("s1:9", "also bad") // clean gap 3-8 among noise; -5 must not poison the watermark
    drain(gaps)
    val g = spark.table("b28bad").as[(String, Long, Long)].collect().toSet
    assert(g == Set(("s1", 3L, 8L)),
      "bad lines dropped (no crash, no fabricated source), real gap detected")
  }

  test("B1b: streaming update images — PK change tombstones old key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ChangelogStream.ImagedChange]
    val q = ChangelogStream.entityState(ChangelogStream.expandUpdates(in.toDS()))
      .writeStream.format("memory").queryName("b1b").outputMode("update").start()
    in.addData(
      ChangelogStream.ImagedChange(1, "upsert", "t", -1, 1, 1.0),
      ChangelogStream.ImagedChange(2, "upsert", "t", -1, 2, 2.0))
    q.processAllAvailable()
    in.addData(
      ChangelogStream.ImagedChange(3, "update", "t", 1, 10, 1.5), // PK change 1 → 10
      ChangelogStream.ImagedChange(4, "update", "t", 2, 2, 2.5))  // PK-stable
    q.processAllAvailable()
    // one event swaps PKs 10 ↔ 2: same-pos tombstone + upsert per key
    in.addData(
      ChangelogStream.ImagedChange(5, "update", "t", 10, 2, 10.5),
      ChangelogStream.ImagedChange(5, "update", "t", 2, 10, 2.6))
    drain(q)
    val last = spark.table("b1b").groupBy("tbl", "id")
      .agg(max(struct(col("lastPos"), col("value"), col("live"))).as("s"))
      .select(col("id"), col("s.value"), col("s.live"))
      .as[(Long, Double, Boolean)].collect().toSet
    assert(last == Set((1L, 0.0, false), (2L, 10.5, true), (10L, 2.6, true)))
  }

  test("ingest-time hygiene: batch corpus operators run unchanged on streaming inputs") {
    // qualityFilter / piiScrub / chunk are narrow deterministic plans
    // (no shuffle, no state) — the SAME operator objects apply to a
    // readStream frame, giving filter-at-ingest for free
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Corpus
    val in = MemoryStream[(Long, String, Int)]
    val docs = in.toDF().toDF("doc_id", "text", "n_chars")
    val q1 = Corpus.qualityFilter(docs)
      .writeStream.format("memory").queryName("hyg_q").outputMode("append").start()
    val q2 = Corpus.piiScrub(docs)
      .writeStream.format("memory").queryName("hyg_p").outputMode("append").start()
    val q3 = Corpus.normalizeText(docs)
      .writeStream.format("memory").queryName("hyg_n").outputMode("append").start()
    in.addData(
      (1L, "the quick brown fox jumps over a lazy dog near the riverbank today ok", 69),
      (2L, "tiny", 4), // fails min-length + no-stopword rules
      (3L, "reach me at a.b@c.de please", 27),
      (4L, "  Mixed   CASE\tand   runs ", 26))
    q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
    q1.stop(); q2.stop(); q3.stop()
    val norm = spark.table("hyg_n").where(col("doc_id") === 4L)
      .select("norm_text").as[String].collect().head
    assert(norm == "mixed case and runs")
    val kept = spark.table("hyg_q").where(col("kept") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L))
    val scrubbed = spark.table("hyg_p").where(col("doc_id") === 3L)
      .select("scrubbed").as[String].collect().head
    assert(scrubbed == "reach me at <EMAIL> please")
    // the same argument covers embedding quantization at ingest: a
    // map-only plan, so int8 storage rows stream out as vectors land
    val ein = MemoryStream[(Long, Seq[Float])]
    val qq = graft.operators.Ann.quantizeInt8(ein.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("hyg_e").outputMode("append").start()
    ein.addData((7L, Seq(1.0f, -0.5f)))
    qq.processAllAvailable(); qq.stop()
    val qs = spark.table("hyg_e").select("d", "q").as[(Int, Int)].collect().toMap
    assert(qs == Map(0 -> 127, 1 -> -63)) // floor(-0.5*127+0.5) = -63
  }

  test("B2: positionTracking emits the resume token (next-position)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = ChangelogStream.positionTracking(in.toDS())
      .writeStream.format("memory").queryName("b2").outputMode("complete").start()
    in.addData(Change(5, "upsert", "t", 1, 1.0), Change(9, "upsert", "t", 2, 2.0))
    drain(q)
    assert(spark.table("b2").as[Long].collect().max == 10L)
  }

  test("B3: watermarked windowed counts close windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("b3").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData((t("2024-01-01 10:10:00"), "click", 1.0), (t("2024-01-01 10:20:00"), "click", 2.0))
    q.processAllAvailable()
    in.addData((t("2024-01-01 12:00:01"), "view", 1.0)) // advances watermark past 10-11h
    drain(q)
    val rows = spark.table("b3").select("event_type", "n", "sum_val")
      .as[(String, Long, Double)].collect().toSet
    assert(rows.contains(("click", 2L, 3.0)))
  }

  test("B11: streaming session windows merge by gap and emit once closed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = EventStreams.sessionize(df, gap = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("b11").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: two events 10 min apart (one session), then one 2h later
    in.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:10:00"), 1L),
      (t("2024-01-01 12:00:00"), 1L))
    q.processAllAvailable()
    in.addData((t("2024-01-02 00:00:00"), 99L)) // advance watermark, close all
    drain(q)
    val rows = spark.table("b11").select("user_id", "n_events")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(rows(1L) == Seq(1L, 2L), "gap merge: 2-event session + 1-event session")
  }

  test("B12: stream-stream interval join pairs purchases with preceding views only") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(java.sql.Timestamp, Long)]
    val pIn = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val views = vIn.toDF().toDF("ts", "user_id")
    val purchases = pIn.toDF().toDF("ts", "user_id", "value")
    val q = EventStreams.purchaseViewJoin(views, purchases)
      .writeStream.format("memory").queryName("b12").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    vIn.addData((t("2024-01-01 10:00:00"), 1L),  // in window
      (t("2024-01-01 08:00:00"), 1L),            // too old (> 1h before)
      (t("2024-01-01 10:40:00"), 1L),            // AFTER the purchase → no match
      (t("2024-01-01 10:00:00"), 2L))            // other user
    pIn.addData((t("2024-01-01 10:30:00"), 1L, 9.5))
    q.processAllAvailable()
    vIn.addData((t("2024-01-02 00:00:00"), 99L)) // advance watermarks
    pIn.addData((t("2024-01-02 00:00:00"), 99L, 0.0))
    drain(q)
    val rows = spark.table("b12")
      .select("user_id", "view_ts", "purchase_val")
      .as[(Long, java.sql.Timestamp, Double)].collect().toSet
    assert(rows.contains((1L, t("2024-01-01 10:00:00"), 9.5)))
    assert(rows.forall { case (u, vt, _) => u != 1L || vt == t("2024-01-01 10:00:00") },
      "only the in-window preceding view joins")
  }

  test("A19: file changelog source tails a directory and feeds the standard pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_clog").toString
    val batch1 = Seq((1L, "upsert", "t", 10L, 0L, 1.0, 0L, "purchase"))
      .toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")
    batch1.write.mode("append").parquet(dir)
    val q = graft.sources.ChangelogFiles.stream(spark, dir)
      .writeStream.format("memory").queryName("a19").outputMode("append").start()
    q.processAllAvailable()
    // a file landing later is picked up by a later micro-batch
    Seq((2L, "delete", "t", 10L, 0L, 2.0, 5L, "error"))
      .toDF("pos", "op", "tbl", "id", "tx", "val", "us", "etype")
      .write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("a19").select("pos", "op", "id")
      .as[(Long, String, Long)].collect().toSet
    assert(rows == Set((1L, "upsert", 10L), (2L, "delete", 10L)))
  }

  test("B4: tx buffering — commit releases in order, rollback drops, markers stripped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TxEvent]
    val dummy = Change(0, "", "", 0, 0.0)
    val q = ChangelogStream.filterCommitted(in.toDS(), txTimeoutMs = 0)
      .writeStream.format("memory").queryName("b4").outputMode("append").start()
    in.addData(
      TxEvent(1, 0, "begin", dummy),
      TxEvent(1, 1, "data", Change(1, "upsert", "t", 1, 1.0)),
      TxEvent(2, 0, "begin", dummy),
      TxEvent(2, 1, "data", Change(2, "upsert", "t", 2, 2.0)))
    q.processAllAvailable()
    in.addData(
      TxEvent(1, 2, "data", Change(3, "upsert", "t", 3, 3.0)),
      TxEvent(1, 3, "commit", dummy), // tx 1 commits (across batches)
      TxEvent(2, 2, "rollback", dummy)) // tx 2 rolls back
    q.processAllAvailable()
    // one micro-batch of more source blocks than task slots: tx 3's
    // begin, data (out of seq order) and commit, and tx 4's rollback,
    // each in blocks of their own; tx 5 stays open into the next batch
    def data(tx: Long, seq: Long) = TxEvent(tx, seq, "data", Change(tx * 10 + seq, "upsert", s"t$tx", seq, 1.0))
    val blocks = Seq(
      Seq(TxEvent(3, 0, "begin", dummy)), Seq(data(3, 3)), Seq(TxEvent(4, 0, "begin", dummy)),
      Seq(data(3, 1)), Seq(data(4, 1)), Seq(data(3, 2)), Seq(TxEvent(5, 0, "begin", dummy)),
      Seq(TxEvent(4, 2, "rollback", dummy)), Seq(TxEvent(3, 4, "commit", dummy)), Seq(data(5, 1)),
      Seq(TxEvent(6, 0, "begin", dummy), data(6, 1), TxEvent(6, 2, "commit", dummy)))
    assert(blocks.size > spark.sparkContext.defaultParallelism)
    blocks.foreach(b => in.addData(b))
    q.processAllAvailable()
    assert(!spark.table("b4").as[Change].collect().exists(_.tbl == "t5"), "tx 5 is still open")
    in.addData(data(5, 2), TxEvent(5, 3, "commit", dummy))
    drain(q)
    val got = spark.table("b4").as[Change].collect().toSeq
    assert(got.map(_.pos).sorted == Seq(1L, 3L, 31L, 32L, 33L, 51L, 52L, 61L))
    // a committed tx comes out in seq order, whatever its blocks' order
    assert(got.filter(_.tbl == "t3").map(_.pos) == Seq(31L, 32L, 33L))
    assert(got.filter(_.tbl == "t5").map(_.pos) == Seq(51L, 52L))
  }

  test("B8: group-table-maps pairs across micro-batch boundaries (per-file state)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = ChangelogStream.groupTableMaps(in.toDS())
      .writeStream.format("memory").queryName("b8").outputMode("append").start()
    in.addData(
      RawEvent("A", 1, "table_map", "app", "t1", 0.0),
      RawEvent("A", 2, "write", null, null, 1.0),
      RawEvent("B", 1, "write", null, null, 9.0)) // no map yet in file B
    q.processAllAvailable()
    in.addData(
      // batch 2: file A's map from batch 1 must still govern
      RawEvent("A", 3, "update", null, null, 2.0),
      RawEvent("A", 4, "table_map", "app", "t2", 0.0),
      RawEvent("A", 5, "delete", null, null, 0.0),
      RawEvent("B", 2, "table_map", "oth", "t9", 0.0),
      RawEvent("B", 3, "write", null, null, 8.0))
    drain(q)
    val out = spark.table("b8").as[RawEvent].collect()
      .map(e => (e.file, e.pos) -> ((e.kind, e.db, e.tbl))).toMap
    assert(out(("A", 2L)) == (("write", "app", "t1")))
    assert(out(("A", 3L)) == (("update", "app", "t1"))) // cross-batch inherit
    assert(out(("A", 5L)) == (("delete", "app", "t2")))
    assert(out(("B", 1L)) == (("write", null, null))) // pre-map mutation
    assert(out(("B", 3L)) == (("write", "oth", "t9")))
    assert(out.size == 5, "table_map rows are swallowed")
  }

  test("B5: snapshot→stream handoff equals full-history fold (reference streaming test)") {
    // full history: 6 ops; snapshot = fold of first 3, stream = last 3
    val all = Seq(
      Change(1, "upsert", "t", 1, 1.0),
      Change(2, "upsert", "t", 2, 2.0),
      Change(3, "delete", "t", 1, 0.0),
      Change(4, "upsert", "t", 1, 10.0),
      Change(5, "upsert", "t", 3, 3.0),
      Change(6, "delete", "t", 2, 0.0))
    val (initial, streamed) = all.splitAt(3)
    val snapState = initial
      .groupBy(c => (c.tbl, c.id))
      .map { case (k, cs) => val last = cs.maxBy(_.pos)
        Entity(k._1, k._2, last.value, last.pos, last.op == "upsert") }
      .toSeq
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = ChangelogStream.entityState(in.toDS(), Some(snapState.toDS()))
      .writeStream.format("memory").queryName("b5").outputMode("update").start()
    in.addData(streamed: _*)
    drain(q)
    val last = spark.table("b5").groupBy("tbl", "id")
      .agg(max(struct(col("lastPos"), col("value"), col("live"))).as("s"))
      .select(col("id"), col("s.value"), col("s.live"))
      .as[(Long, Double, Boolean)].collect().toSet
      .filter(_._3) // live entities only
    // expected = serial fold of ALL ops
    val expected = all.foldLeft(Map.empty[Long, Double]) { (m, c) =>
      if (c.op == "upsert") m + (c.id -> c.value) else m - c.id
    }.map { case (id, v) => (id, v, true) }.toSet
    assert(last == expected)
  }

  test("B17: dead-letter routing splits each micro-batch; replay rewrites, never duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val goodDir = java.nio.file.Files.createTempDirectory("graft_good").toString
    val dlqDir = java.nio.file.Files.createTempDirectory("graft_dlq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // (event_id, ts, user_id, event_type, value, props) — events shape;
    // props k >= 95 fails validation and must route to the DLQ
    val in = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = graft.streaming.EventStreams.routeWithDlq(stream, goodDir, dlqDir)
      .option("checkpointLocation", ckpt).start()
    in.addData((1L, 1000L, 7L, "view", 60.0, "k=10"), (2L, 2000L, 7L, "click", 1.0, "k=99"))
    q.processAllAvailable()
    in.addData((3L, 3000L, 8L, "purchase", 10.0, "k=97"))
    q.processAllAvailable(); q.stop()
    val good = spark.read.parquet(goodDir).select("pos").as[Long].collect().toSet
    val bad = spark.read.parquet(dlqDir).select("pos", "reason")
      .as[(Long, String)].collect().toSet
    assert(good == Set(1L), "only the valid row flows onward, normalized")
    assert(bad == Set((2L, "k_out_of_range"), (3L, "k_out_of_range")))
    // replaying batch 0 (same data, same batch id) must not duplicate output
    val in2 = MemoryStream[(Long, Long, Long, String, Double, String)]
    in2.addData((1L, 1000L, 7L, "view", 60.0, "k=10"), (2L, 2000L, 7L, "click", 1.0, "k=99"))
    val q2 = graft.streaming.EventStreams
      .routeWithDlq(in2.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        goodDir, dlqDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt2").toString).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(goodDir).count() == 1, "batch=0 overwritten, not appended")
  }

  test("B18: streaming near-dup flags band collisions across AND within micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val in = MemoryStream[(Long, Long, String)] // (doc_id, epoch_sec, text)
    // ~60 tokens with ONE word changed: Jaccard ~0.95, far above the
    // 16-band x 8-row detection threshold (~0.7)
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok60", "changed")
    val novel = "completely different content about distributed query engines and shuffles"
    val docs = in.toDF().toDF("doc_id", "sec", "text")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")
    val q = EventStreams.nearDupSink(EventStreams.nearDupBandHits(docs), outDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_neardup_ckpt").toString)
      .start()
    in.addData((10L, 100L, base))
    q.processAllAvailable()
    in.addData((20L, 110L, near), (30L, 110L, novel)) // cross-batch dup + novel doc
    val pairTxt = (1 to 40).map(i => s"pair$i").mkString(" ") // unrelated to base/novel
    in.addData((41L, 120L, pairTxt), (40L, 120L, pairTxt)) // same-batch identical pair
    q.processAllAvailable(); q.stop()
    val m = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Boolean]("is_dup"), Option(r.getAs[Any]("dup_of"))))).toMap
    assert(m(10L)._1 == false, "first doc is novel")
    assert(m(20L) == ((true, Some(10L))), "cross-batch near-dup points at the owner")
    assert(m(30L)._1 == false, "unrelated doc is not flagged")
    assert(m(40L)._1 == false, "lowest doc_id claims the bucket within a batch")
    assert(m(41L) == ((true, Some(40L))), "same-batch twin resolves deterministically")
  }

  test("B18b: event-time TTL expires idle band buckets — a late near-dup passes (the documented trade)") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_neardup_ttl").toString
    val in = MemoryStream[(Long, Long, String)]
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val fillerA = (1 to 40).map(i => s"fillA$i").mkString(" ")
    val fillerB = (1 to 40).map(i => s"fillB$i").mkString(" ")
    val docs = in.toDF().toDF("doc_id", "sec", "text")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")
    val q = EventStreams.nearDupSink(
        EventStreams.nearDupBandHits(docs, watermark = "1 second", stateTtlMs = 60000L),
        outDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_neardup_ttl_ckpt").toString)
      .start()
    in.addData((10L, 100L, base)); q.processAllAvailable()   // buckets expire at t=160s
    in.addData((50L, 400L, fillerA)); q.processAllAvailable() // watermark -> 399s
    in.addData((51L, 401L, fillerB)); q.processAllAvailable() // idle base buckets time out
    in.addData((60L, 500L, base)); q.processAllAvailable()   // exact dup, but state expired
    q.stop()
    val m = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(m(10L) == false && m(50L) == false && m(51L) == false)
    assert(m(60L) == false,
      "buckets idle past the TTL are gone — the late dup re-claims them (batch pass catches it)")

    // the same scenario through the perceptual and the semantic owner:
    // fillers that share no bucket with the base advance the watermark,
    // the base's idle buckets time out, and its late exact copy
    // re-claims every band it lands in
    def lateCopyOwners(name: String, base: Array[Float], filler: Array[Float])(
        hits: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val vin = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
      val vq = hits(vin.toDF())
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      for ((id, sec, v) <- Seq((10L, 100L, base), (50L, 400L, filler), (51L, 401L, filler),
                               (60L, 500L, base))) {
        vin.addData((id, new java.sql.Timestamp(sec * 1000), v)); vq.processAllAvailable()
      }
      vq.stop()
      spark.table(name).collect().toSeq.groupBy(_.getLong(0))
        .map { case (id, rs) => (id, rs.map(_.getLong(2)).toSet) }
    }
    val ramp = Array.tabulate(16)(i => if (i % 2 == 0) 0.1f else 0.9f)
    val phashOwners = lateCopyOwners("b18b_phash", ramp, ramp.map(1.0f - _)) { df =>
      EventStreams.phashBandHits(df.toDF("media_id", "ts", "features"),
        watermark = "1 second", stateTtlMs = 60000L)
    }
    val emb = Array.tabulate(64)(i => ((i * 37 % 19) - 9) / 9.0f)
    val embOwners = lateCopyOwners("b18b_emb", emb, emb.map(-_)) { df =>
      EventStreams.embeddingBandHits(df.toDF("vec_id", "ts", "embedding"),
        watermark = "1 second", stateTtlMs = 60000L)
    }
    for ((owners, miner) <- Seq((phashOwners, "phashBandHits"), (embOwners, "embeddingBandHits"))) {
      assert(owners(10L) == Set(10L) && owners(50L) == Set(50L) && owners(51L) == Set(50L),
        s"$miner: base and fillers own disjoint buckets, got $owners")
      assert(owners(60L) == Set(60L),
        s"$miner: the late copy re-claims the expired buckets, got ${owners(60L)}")
    }
  }

  test("B20: windowed distinct sketch streams — below-k windows exact, agg state crosses batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Long)]
    val events = in.toDF().toDF("ts", "event_type", "user_id")
    val q = EventStreams.windowedDistinctUsers(events, windowDur = "1 minute",
        watermark = "0 seconds", k = 64)
      .writeStream.format("memory").queryName("b20").outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // one window [60,120): users 1,2,3 for "view" — 2 arrives twice,
    // split ACROSS batches so the sketch buffer must survive the store
    in.addData((t(70), "view", 1L), (t(75), "view", 2L))
    q.processAllAvailable()
    in.addData((t(80), "view", 2L), (t(85), "view", 3L))
    q.processAllAvailable()
    in.addData((t(200), "view", 9L)) // advances watermark past 120 -> window closes
    q.processAllAvailable(); q.stop()
    val rows = spark.table("b20")
      .select(col("event_type"), col("n_kept"), col("est_distinct"))
      .as[(String, Long, Double)].collect()
    assert(rows.length == 1, s"exactly the closed window emits, got ${rows.toSeq}")
    assert(rows(0) == (("view", 3L, 3.0)),
      "below k the sketch is the exact distinct count — dup user collapsed across batches")
  }

  test("B21 windowed count-min sketch merges across micro-batches == batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val docs = in.toDF().toDF("ts", "text")
    val q = EventStreams.windowedTokenSketch(docs, windowDur = "1 minute",
        watermark = "0 seconds", depth = 4, width = 128)
      .writeStream.format("memory").queryName("b21").outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // one window [60,120): the same heavy bigram arrives in BOTH
    // micro-batches — the matrices must merge in the state store
    in.addData((t(70), "alpha beta x1"), (t(75), "alpha beta x2"))
    q.processAllAvailable()
    in.addData((t(80), "alpha beta x3"))
    q.processAllAvailable()
    in.addData((t(200), "late doc")) // watermark past 120 -> window closes
    q.processAllAvailable(); q.stop()
    val out = spark.table("b21").select(col("start"), col("cms")).collect()
    assert(out.length == 1, s"exactly the closed window emits, got ${out.length}")
    assert(out(0).getTimestamp(0) == t(60))
    val streamed = out(0).getSeq[Long](1)
    // the batch aggregate over the same three docs is the ground truth
    val batch = Seq("alpha beta x1", "alpha beta x2", "alpha beta x3").toDF("text")
      .select(explode(graft.functions.Hashing.hashedShinglesNCol(
        split(col("text"), " "), 2)).as("bg"))
      .agg(graft.functions.Sketches.countMin(col("bg"), 4, 128).as("cms"))
      .collect()(0).getSeq[Long](0)
    assert(streamed == batch, "state-store merge must equal the one-shot batch matrix")
    // and the merged matrix answers the point query: alpha_beta df = 3
    val est = Seq(1).toDF("x")
      .select(graft.operators.Sketch.cmsEstimate(
        typedlit(streamed), graft.functions.Hashing.fingerprint(lit("alpha_beta")),
        4, 128).as("est"))
      .collect()(0).getLong(0)
    assert(est >= 3L && est <= 6L, s"alpha_beta estimate off: $est")
  }

  test("B24 streaming SCD2 emits exactly the batch operator's closed versions") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = ChangelogStream.scd2Versions(in.toDS())
      .writeStream.format("memory").queryName("b24").outputMode("append").start()
    // the ChangelogSpec scd2 scenario, split across micro-batches so
    // open versions must survive the state store
    in.addData(Change(1, "upsert", "t", 1, 1.0), Change(2, "upsert", "t", 1, 1.0))
    q.processAllAvailable()
    in.addData(Change(3, "upsert", "t", 1, 2.0), Change(4, "upsert", "t", 2, 9.0))
    q.processAllAvailable()
    in.addData(Change(5, "delete", "t", 1, 0.0), Change(6, "delete", "t", 1, 0.0),
      Change(8, "upsert", "t", 1, 2.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("b24")
      .select(col("id"), col("value"), col("validFrom"), col("validTo"))
      .as[(Long, Double, Long, Long)].collect().toSet
    // batch twin over the same history: its CLOSED rows (valid_to set)
    val history = Seq((1L, "upsert", "t", 1L, 1.0), (2L, "upsert", "t", 1L, 1.0),
      (3L, "upsert", "t", 1L, 2.0), (4L, "upsert", "t", 2L, 9.0),
      (5L, "delete", "t", 1L, 0.0), (6L, "delete", "t", 1L, 0.0),
      (8L, "upsert", "t", 1L, 2.0))
      .toDF("pos", "op", "tbl", "id", "val")
    val batchClosed = graft.cdc.Changelog.scd2(history)
      .filter(col("valid_to").isNotNull)
      .select(col("id"), col("val"), col("valid_from"), col("valid_to"))
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(streamed == batchClosed,
      s"streamed closed versions $streamed != batch $batchClosed")
    assert(streamed == Set((1L, 1.0, 1L, 3L), (1L, 2.0, 3L, 5L)),
      "v1 closed by the change at 3, v2 by the delete at 5; the reopen stays open")
  }

  test("B22 live anomaly flags match the batch integer test against broadcast stats") {
    implicit val sqlCtx = spark.sqlContext
    // reference moments: "view" averages 2/hour over 100 hours with
    // tiny variance (s2 slightly above s1²/nh) — a 10-event hour is
    // way past 3σ, a 2-event hour is not
    val stats = Seq(("view", 100L, 200L, 410L)).toDF("event_type", "nh", "s1", "s2")
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    val q = EventStreams.anomalyFlags(events, stats, windowDur = "1 minute",
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("b22").outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    in.addData((t(70), "view"), (t(75), "view")) // window [60,120): n=2, normal
    q.processAllAvailable()
    in.addData((120L to 129L).map(s => (t(s), "view")): _*) // [120,180): n=10, spike
    q.processAllAvailable()
    in.addData((t(300), "view")) // close both windows
    q.processAllAvailable(); q.stop()
    val rows = spark.table("b22")
      .select(col("start"), col("n"), col("anomaly"))
      .as[(java.sql.Timestamp, Long, Int)].collect().sortBy(_._1.getTime)
    assert(rows.length == 2, s"two closed windows, got ${rows.toSeq}")
    assert(rows(0) == ((t(60), 2L, 0)), s"normal hour flagged: ${rows(0)}")
    assert(rows(1) == ((t(120), 10L, 1)), s"spike not flagged: ${rows(1)}")
    // the flag is the same integer predicate the batch operator uses:
    // (n·nh − s1)² > 9·(nh·s2 − s1²) → (10·100−200)² = 640000 > 9·(41000−40000) = 9000 ✓
    //                                  (2·100−200)²  = 0      > 9000 ✗
  }
}
