package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext}
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
  * columns. Those columns use the session's default state-store
  * provider; a RocksDB column re-runs a subset of the same cells at
  * the largest key size (the RocksDB contract itself is pinned by
  * RocksDbStateSpec). */
object StreamBench {

  private case class OpRun(name: String, keys: Int, rows: Long, secs: Double,
                           sank: Long) {
    def rate: Double = rows / secs
  }

  /** Resident-key columns: the same row volume over 10k and 100k keys. */
  private val keySizes = Seq(10000, 100000)

  /** One operator cell: `rows` generated rows (at rowsScale 1) pumped
    * through `query` in `chunk`-row micro-batches; `gen(keys)(i)` is
    * row `i` over `keys` distinct keys. */
  private case class Cell[T](name: String, rows: Int, chunk: Int, mode: String,
                             query: Dataset[T] => DataFrame, gen: Int => Long => T)(
      implicit enc: Encoder[T]) {
    def run(label: String, keys: Int, rows: Long)(implicit sql: SQLContext): OpRun = {
      val in = MemoryStream[T]
      pump(label, keys, rows, chunk, mode, in, query(in.toDS()), gen(keys))
    }
  }

  /** Pump `rows` generated rows through `query` (fed by `in`) in
    * `chunk`-sized micro-batches; return the wall-clocked run. */
  private def pump[T](name: String, keys: Int, rows: Long, chunk: Int,
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
    val spark = Sessions.local(sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt))
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext

    val baseTs = 1700000000000L // fixed epoch-ms base: deterministic event time
    def ts(i: Long) = new java.sql.Timestamp(baseTs + i)
    def rowsOf(c: Cell[_]): Long = (c.rows * scale).toLong
    def change(value: Long => Double): Int => Long => Change = keys => i =>
      Change(i, if (i % 11 == 0) "delete" else "upsert", "t", i % keys, value(i))

    val entityState = Cell[Change]( // B1: the CDC fold — hot path of every live view
      "entityState", 400000, 50000, "update",
      ChangelogStream.entityState(_).toDF(), change(_ * 0.5))
    val cells: Seq[Cell[_]] = Seq(
      entityState,
      Cell[Change]( // B24: append-on-close version history
        "scd2Versions", 400000, 50000, "append",
        ChangelogStream.scd2Versions(_).toDF(), change(i => (i % 7) * 1.0)),
      Cell[FunnelEvent]( // B31: per-user stage counter
        "funnelStages", 400000, 50000, "append",
        EventStreams.funnelStages(_).toDF(),
        keys => i => FunnelEvent(i % keys, Seq("view", "click", "purchase")((i / keys % 3).toInt),
          baseTs * 1000 + i)),
      Cell[(Long, java.sql.Timestamp, String)]( // B18: minhash + banded bucket state (16 bands/doc)
        "nearDupBandHits", 60000, 20000, "update",
        ds => EventStreams.nearDupBandHits(ds.toDF("doc_id", "ts", "text")),
        keys => i => {
          val d = i % keys
          (i, ts(i), (0 until 12).map(t => s"w${(d * 31 + t * 7) % (keys * 4)}").mkString(" "))
        }),
      Cell[(Long, java.sql.Timestamp, Seq[Float])]( // B18c: perceptual banding (6 bands/row at dim 16)
        "phashBandHits", 120000, 30000, "update",
        ds => EventStreams.phashBandHits(ds.toDF("media_id", "ts", "features")),
        keys => i => {
          val d = i % keys
          (i, ts(i), (0 until 16).map(j => ((d * 2654435761L + j * 40503L) % 1000L) / 1000.0f))
        }),
      // B18d: hyperplane banding + in-flight cosine verify (8 bands/row
      // at dim 64 — the heaviest per-row state payload of the banded
      // family: owner id + vector)
      Cell[(Long, java.sql.Timestamp, Seq[Float])](
        "embeddingBandHits", 60000, 20000, "update",
        ds => EventStreams.embeddingBandHits(ds.toDF("vec_id", "ts", "embedding")),
        keys => i => {
          val d = i % keys
          (i, ts(i), (0 until 64).map(j =>
            (((d * 2654435761L + j * 40503L) % 2000L) - 1000L) / 1000.0f))
        }))

    // unmeasured warmup: the first streaming query of a JVM pays JIT +
    // state-store init that would otherwise land entirely on the first
    // measured cell (the 10k-keys column of whichever op runs first)
    entityState.run("warmup", 1000, 20000)

    val runs = scala.collection.mutable.ArrayBuffer[OpRun]()
    for (keys <- keySizes; c <- cells) runs += c.run(c.name, keys, rowsOf(c))

    // RocksDB provider column (r16 verdict stretch, banded ops added
    // r17 verdict #4): the two CDC fold ops PLUS the two banded
    // near-dup ops re-run on RocksDBStateStoreProvider at the LARGEST
    // key size — B27 pins the provider CONTRACT functionally; this
    // prices it, so a provider-specific rate regression shows up in
    // the same artifact the default-provider rates live in. The
    // banded ops have the most store-sensitive access pattern
    // (per-bucket point lookups + event-time timers), exactly where a
    // provider regression would hide.
    val rocksDbCells = Set("entityState", "scd2Versions", "nearDupBandHits", "phashBandHits")
    locally {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        // unmeasured RocksDB warmup (advisor r17): the first RocksDB
        // query pays native-library + provider init that would
        // otherwise bias the first measured cell low
        entityState.run("warmup_rocksdb", 1000, 20000)
        for (c <- cells if rocksDbCells(c.name))
          runs += c.run(s"${c.name}_rocksdb", keySizes.max, rowsOf(c))
      } finally prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }

    def jnum(d: Double): String = f"$d%.1f"
    val byOp = runs.groupBy(_.name).toSeq.sortBy(_._1).map { case (op, rs) =>
      val rates = rs.sortBy(_.keys)
        .map(r => "\"" + r.keys + "\":" + jnum(r.rate)).mkString("{", ",", "}")
      "\"" + op + "\":" + rates
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
