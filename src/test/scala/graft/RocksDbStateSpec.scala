package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{ChangelogStream, EventStreams}
import graft.streaming.ChangelogStream.Change

/** The streaming operators run unchanged on the RocksDB state store —
  * the provider a 100 TB deployment uses (per-key state lives off-heap
  * / on local SSD instead of the default provider's executor heap, so
  * entityState over billions of keys is bounded by disk, not memory;
  * changelog checkpointing ships deltas instead of full snapshots).
  * The operators never touch provider APIs — state flows through
  * `flatMapGroupsWithState` — so this is a contract test: same fold,
  * same answers, RocksDB metrics actually reported (proving the
  * provider was in force, not silently defaulted).
  */
class RocksDbStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("entityState folds identically on RocksDBStateStoreProvider, across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("rocksdb_state").toString
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Change]
      // memory sink cannot recover from a checkpoint; foreachBatch can
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Boolean)]()
      def start() = ChangelogStream.entityState(in.toDS())
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[ChangelogStream.Entity], _: Long) =>
            b.collect().foreach(e => out.add((e.id, e.lastPos, e.value, e.live)))
        }
        .option("checkpointLocation", ckpt).outputMode("update").start()

      val q1 = start()
      in.addData(
        Change(1, "upsert", "t", 1, 1.0),
        Change(2, "upsert", "t", 2, 2.0),
        Change(3, "upsert", "t", 1, 5.0))
      q1.processAllAvailable()
      // the provider must actually be RocksDB: its custom metrics are
      // provider-specific and absent under the default HDFS-backed store
      val metrics = q1.lastProgress.stateOperators.head.customMetrics.keySet()
      assert(metrics.toString.toLowerCase.contains("rocksdb"),
        s"expected RocksDB state metrics, got $metrics")
      q1.stop()

      // restart from the checkpoint: RocksDB state must resume the fold
      val q2 = start()
      in.addData(Change(4, "delete", "t", 2, 0.0), Change(5, "upsert", "t", 3, 7.0))
      q2.processAllAvailable(); q2.stop()

      import scala.jdk.CollectionConverters._
      val last = out.asScala.groupBy(_._1).map { case (id, rows) =>
        val r = rows.maxBy(_._2); (id, r._3, r._4)
      }.toSet
      assert(last == Set((1L, 5.0, true), (2L, 0.0, false), (3L, 7.0, true)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // ---- r14: breadth — the highest-state operators on RocksDB ----
  // entityState pins the provider contract above; these pin the
  // operators whose STATE SHAPE is the heaviest in production — the
  // banded bucket stores (nearDupBandHits/phashBandHits: millions of
  // (band, bucket) keys) and the per-user funnel counters — across a
  // checkpoint restart, where a provider that silently lost or
  // re-initialized state would still pass a single-run spec.

  private def withRocksDb[T](body: String => T): T = {
    val ckpt = java.nio.file.Files.createTempDirectory("rocksdb_state").toString
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body(ckpt)
    finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  private def assertRocksDb(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet()
    assert(metrics.toString.toLowerCase.contains("rocksdb"),
      s"expected RocksDB state metrics, got $metrics")
  }

  test("nearDupBandHits bucket owners survive a RocksDB restart") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
      val in = MemoryStream[(Long, java.sql.Timestamp, String)]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def start() = EventStreams.nearDupBandHits(
          in.toDF().toDF("doc_id", "ts", "text"))
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r => out.add((r.getLong(0), r.getLong(2))))
        }
        .option("checkpointLocation", ckpt).outputMode("update").start()

      def t(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
      val text = "alpha beta gamma delta epsilon zeta"
      val q1 = start()
      in.addData((1L, t(0), text), (5L, t(1), "one two three four five six"))
      q1.processAllAvailable()
      assertRocksDb(q1)
      q1.stop()

      // restart: doc 2 carries the SAME shingles as doc 1 — every band
      // must report the PRE-RESTART owner, not doc 2 claiming fresh
      // buckets (which is what a lost store would produce)
      val q2 = start()
      in.addData((2L, t(2), text))
      q2.processAllAvailable(); q2.stop()

      import scala.jdk.CollectionConverters._
      val doc2Owners = out.asScala.filter(_._1 == 2L).map(_._2).toSet
      assert(doc2Owners == Set(1L),
        s"doc 2 must hit doc 1's buckets in every band, got owners $doc2Owners")
    }
  }

  test("phashBandHits owner hashes survive a RocksDB restart (hamming vs pre-restart owner)") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
      val in = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
      def start() = EventStreams.phashBandHits(
          in.toDF().toDF("media_id", "ts", "features"))
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r => out.add((r.getLong(0), r.getLong(2), r.getInt(3))))
        }
        .option("checkpointLocation", ckpt).outputMode("update").start()

      def t(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
      // a strictly increasing ramp: dHash bit i = f[i] > f[(i+1)%16] —
      // all bits 0 except the wraparound bit
      val ramp = (1 to 16).map(_.toFloat)
      val q1 = start()
      in.addData((1L, t(0), ramp))
      q1.processAllAvailable()
      assertRocksDb(q1)
      q1.stop()

      // restart: identical features ⇒ identical ph ⇒ every band hits
      // the stored owner with the owner's STORED HASH (hamming 0) —
      // state holds (owner, ownerPh), so a reset store could not even
      // compute the distance
      val q2 = start()
      in.addData((2L, t(1), ramp))
      q2.processAllAvailable(); q2.stop()

      import scala.jdk.CollectionConverters._
      val hits2 = out.asScala.filter(_._1 == 2L).toSeq
      assert(hits2.nonEmpty && hits2.forall(h => h._2 == 1L && h._3 == 0),
        s"media 2 must match pre-restart owner 1 at hamming 0 in all bands, got $hits2")
    }
  }

  test("embeddingBandHits owner vectors survive a RocksDB restart (cosine vs pre-restart owner)") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
      val in = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
      def start() = EventStreams.embeddingBandHits(
          in.toDF().toDF("vec_id", "ts", "embedding"))
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r => out.add((r.getLong(0), r.getLong(2), r.getDouble(3))))
        }
        .option("checkpointLocation", ckpt).outputMode("update").start()

      def t(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
      val v = (0 until 64).map(i => ((i * 37 % 19) - 9) / 9.0f)
      val q1 = start()
      in.addData((1L, t(0), v))
      q1.processAllAvailable()
      assertRocksDb(q1)
      q1.stop()

      // restart: an identical vector lands in every bucket of vec 1 and
      // is verified against the owner's STORED embedding — a reset store
      // would make vec 2 its own owner
      val q2 = start()
      in.addData((2L, t(1), v))
      q2.processAllAvailable(); q2.stop()

      import scala.jdk.CollectionConverters._
      val hits2 = out.asScala.filter(_._1 == 2L).toSeq
      assert(hits2.size == 8 && hits2.forall(h => h._2 == 1L && (h._3 - 1.0).abs < 1e-12),
        s"vec 2 must match pre-restart owner 1 at cosine 1 in all 8 bands, got $hits2")
    }
  }

  test("funnelStages per-user counters survive a RocksDB restart") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
      val in = MemoryStream[EventStreams.FunnelEvent]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
      def start() = EventStreams.funnelStages(in.toDS())
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[EventStreams.FunnelAdvance], _: Long) =>
            b.collect().foreach(a => out.add((a.userId, a.stage)))
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()

      val q1 = start()
      in.addData(EventStreams.FunnelEvent(7L, "view", 1000L))
      q1.processAllAvailable()
      assertRocksDb(q1)
      q1.stop()

      // restart: "click" advances 7 to stage 2 ONLY if the stage-1
      // counter was durably in the store; a reset store would ignore
      // the click (stage 0 expects "view")
      val q2 = start()
      in.addData(EventStreams.FunnelEvent(7L, "click", 2000L))
      q2.processAllAvailable(); q2.stop()

      import scala.jdk.CollectionConverters._
      assert(out.asScala.toSet == Set((7L, 1), (7L, 2)),
        s"expected stage 1 then stage 2 across the restart, got ${out.asScala.toSet}")
    }
  }
}
