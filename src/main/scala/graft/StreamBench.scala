package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{ChangelogStream, EventStreams}
import graft.streaming.ChangelogStream.Change
import graft.streaming.EventStreams.FunnelEvent

/** Streaming THROUGHPUT instrument (the B family's rate artifact —
  * r13 verdict Next-round #5): drives the highest-state stateful
  * operators with a deterministic in-memory workload and reports
  * rows/second at two state sizes (distinct-key cardinalities), so a
  * state-store or operator regression shows up as a rate drop the
  * unit specs cannot see. The unit/restart specs pin CORRECTNESS;
  * this pins COST.
  *
  * `runMain graft.StreamBench [rowsScale]` — rowsScale (default 1)
  * multiplies every operator's row budget; output is one JSON line on
  * stdout and `$SPARK_GRAFT_STREAMBENCH_OUT` (default
  * `STREAMBENCH_LAST.json`).
  *
  * Method: rows arrive through [[MemoryStream]] in fixed-size chunks
  * (one micro-batch per chunk — the measured rate therefore includes
  * Spark's per-batch planning overhead, as production rates do), the
  * sink is a row-counting foreachBatch, and the clock covers feed →
  * final `processAllAvailable`. Two key cardinalities probe the
  * state-size axis: the SAME row volume spread over 10k vs 100k
  * distinct keys — an operator whose per-row cost grows with resident
  * state (store lookup depth, snapshot maintenance) separates the two
  * columns. The state-store provider is the session default (the
  * RocksDB contract is pinned separately by RocksDbStateSpec). */
object StreamBench {

  private case class OpRun(name: String, keys: Int, rows: Long, secs: Double,
                           sank: Long) {
    def rate: Double = rows / secs
  }

  /** Pump `rows` generated rows through `query(in)` in `chunk`-sized
    * micro-batches; return the wall-clocked run. */
  private def run[T](name: String, keys: Int, rows: Long, chunk: Int,
                     mode: String, in: MemoryStream[T],
                     query: DataFrame, gen: Long => T): OpRun = {
    val ckpt = Files.createTempDirectory(s"streambench_$name").toString
    val sank = new java.util.concurrent.atomic.LongAdder
    val q: StreamingQuery = query.writeStream
      .foreachBatch { (b: DataFrame, _: Long) => sank.add(b.count()); () }
      .option("checkpointLocation", ckpt)
      .outputMode(mode)
      .start()
    val t0 = System.nanoTime()
    try {
      var fed = 0L
      while (fed < rows) {
        val n = math.min(chunk.toLong, rows - fed)
        in.addData((0L until n).map(i => gen(fed + i)))
        q.processAllAvailable()
        fed += n
      }
    } finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val r = OpRun(name, keys, rows, secs, sank.sum())
    System.err.println(f"[streambench] $name keys=$keys: $rows rows in $secs%.1f s" +
      f" = ${r.rate}%.0f rows/s (sank ${r.sank})")
    r
  }

  def main(args: Array[String]): Unit = {
    val scale = if (args.nonEmpty) args(0).toDouble else 1.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Sessions.benchLocal(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-streambench"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // resident-key columns; override for deep-state probes (e.g.
    // "10000,100000,1000000" with a row `scale` ≥ keys/100k so the
    // biggest column actually touches every key a few times)
    val keySizes = sys.env.get("SPARK_GRAFT_STREAMBENCH_KEYS")
      .map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(10000, 100000))
    val baseTs = 1700000000000L // fixed epoch-ms base: deterministic event time
    def ts(i: Long) = new java.sql.Timestamp(baseTs + i)
    def rowsOf(n: Int): Long = (n * scale).toLong

    // unmeasured warmup: the first streaming query of a JVM pays JIT +
    // state-store init that would otherwise land entirely on the first
    // measured cell (the 10k-keys column of whichever op runs first)
    locally {
      val in = MemoryStream[Change]
      run("warmup", 0, 20000, 20000, "update", in,
        ChangelogStream.entityState(in.toDS()).toDF(),
        i => Change(i, "upsert", "t", i % 1000, 0.0))
    }

    val runs = scala.collection.mutable.ArrayBuffer[OpRun]()
    for (keys <- keySizes) {
      locally { // B1 entityState: the CDC fold — hot path of every live view
        val in = MemoryStream[Change]
        runs += run("entityState", keys, rowsOf(400000), 50000, "update", in,
          ChangelogStream.entityState(in.toDS()).toDF(),
          i => Change(i, if (i % 11 == 0) "delete" else "upsert", "t", i % keys, i * 0.5))
      }
      locally { // B24 scd2Versions: append-on-close version history
        val in = MemoryStream[Change]
        runs += run("scd2Versions", keys, rowsOf(400000), 50000, "append", in,
          ChangelogStream.scd2Versions(in.toDS()).toDF(),
          i => Change(i, if (i % 11 == 0) "delete" else "upsert", "t", i % keys, (i % 7) * 1.0))
      }
      locally { // B31 funnelStages: per-user stage counter
        val in = MemoryStream[FunnelEvent]
        runs += run("funnelStages", keys, rowsOf(400000), 50000, "append", in,
          EventStreams.funnelStages(in.toDS()).toDF(),
          i => FunnelEvent(i % keys, Seq("view", "click", "purchase")((i / keys % 3).toInt),
            baseTs * 1000 + i))
      }
      locally { // B18 nearDupBandHits: minhash + banded bucket state (16 bands/doc)
        val in = MemoryStream[(Long, java.sql.Timestamp, String)]
        runs += run("nearDupBandHits", keys, rowsOf(60000), 20000, "update", in,
          EventStreams.nearDupBandHits(in.toDF().toDF("doc_id", "ts", "text")),
          i => {
            val d = i % keys
            (i, ts(i), (0 until 12).map(t => s"w${(d * 31 + t * 7) % (keys * 4)}").mkString(" "))
          })
      }
      locally { // B18c phashBandHits: perceptual banding (6 bands/row at dim 16)
        val in = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
        runs += run("phashBandHits", keys, rowsOf(120000), 30000, "update", in,
          EventStreams.phashBandHits(in.toDF().toDF("media_id", "ts", "features")),
          i => {
            val d = i % keys
            (i, ts(i), (0 until 16).map(j => ((d * 2654435761L + j * 40503L) % 1000L) / 1000.0f))
          })
      }
      locally { // B18d embeddingBandHits: hyperplane banding + in-flight
        // cosine verify (8 bands/row at dim 64 — the heaviest per-row
        // state payload of the banded family: owner id + vector)
        val in = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
        runs += run("embeddingBandHits", keys, rowsOf(60000), 20000, "update", in,
          EventStreams.embeddingBandHits(in.toDF().toDF("vec_id", "ts", "embedding")),
          i => {
            val d = i % keys
            (i, ts(i), (0 until 64).map(j =>
              (((d * 2654435761L + j * 40503L) % 2000L) - 1000L) / 1000.0f))
          })
      }
    }

    // RocksDB provider column (r16 verdict stretch, banded ops added
    // r17 verdict #4): the two CDC fold ops PLUS the two banded
    // near-dup ops re-run on RocksDBStateStoreProvider at the LARGEST
    // key size — B27 pins the provider CONTRACT functionally; this
    // prices it, so a provider-specific rate regression shows up in
    // the same artifact the default-provider rates live in. The
    // banded ops have the most store-sensitive access pattern
    // (per-bucket point lookups + event-time timers), exactly where a
    // provider regression would hide.
    locally {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val keys = keySizes.max
        locally { // unmeasured RocksDB warmup (advisor r17): the first
          // RocksDB query pays native-library + provider init that
          // would otherwise bias the first measured cell low — mirror
          // of the default-provider warmup above
          val in = MemoryStream[Change]
          run("warmup_rocksdb", 0, 20000, 20000, "update", in,
            ChangelogStream.entityState(in.toDS()).toDF(),
            i => Change(i, "upsert", "t", i % 1000, 0.0))
        }
        locally {
          val in = MemoryStream[Change]
          runs += run("entityState_rocksdb", keys, rowsOf(400000), 50000, "update", in,
            ChangelogStream.entityState(in.toDS()).toDF(),
            i => Change(i, if (i % 11 == 0) "delete" else "upsert", "t", i % keys, i * 0.5))
        }
        locally {
          val in = MemoryStream[Change]
          runs += run("scd2Versions_rocksdb", keys, rowsOf(400000), 50000, "append", in,
            ChangelogStream.scd2Versions(in.toDS()).toDF(),
            i => Change(i, if (i % 11 == 0) "delete" else "upsert", "t", i % keys, (i % 7) * 1.0))
        }
        locally {
          val in = MemoryStream[(Long, java.sql.Timestamp, String)]
          runs += run("nearDupBandHits_rocksdb", keys, rowsOf(60000), 20000, "update", in,
            EventStreams.nearDupBandHits(in.toDF().toDF("doc_id", "ts", "text")),
            i => {
              val d = i % keys
              (i, ts(i), (0 until 12).map(t => s"w${(d * 31 + t * 7) % (keys * 4)}").mkString(" "))
            })
        }
        locally {
          val in = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
          runs += run("phashBandHits_rocksdb", keys, rowsOf(120000), 30000, "update", in,
            EventStreams.phashBandHits(in.toDF().toDF("media_id", "ts", "features")),
            i => {
              val d = i % keys
              (i, ts(i), (0 until 16).map(j => ((d * 2654435761L + j * 40503L) % 1000L) / 1000.0f))
            })
        }
      } finally prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }

    def jnum(d: Double): String = f"$d%.1f"
    val byOp = runs.groupBy(_.name).toSeq.sortBy(_._1).map { case (op, rs) =>
      val cells = rs.sortBy(_.keys)
        .map(r => "\"" + r.keys + "\":" + jnum(r.rate)).mkString("{", ",", "}")
      "\"" + op + "\":" + cells
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"streambench","unit":"rows_per_sec","scale":$scale,""" +
      s""""key_sizes":[${keySizes.mkString(",")}],"ops":$byOp}"""
    println(line)
    val outPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "STREAMBENCH_LAST.json"))
    Files.writeString(outPath, line + "\n")
    System.err.println(s"[streambench] artifact written to ${outPath.toAbsolutePath}")
    spark.stop()
  }
}
