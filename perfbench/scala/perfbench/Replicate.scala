package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{ChangelogStream, UpsertSink}
import graft.streaming.ChangelogStream.{Change, TxEvent}

/** Live replication: `MemoryStream[TxEvent]` → `ChangelogStream
  * .filterCommitted` → `UpsertSink.mergeBatch` from `foreachBatch`,
  * over a bulk-loaded view that is large relative to one micro-batch:
  * a closed-loop drain of fixed backlog chunks, then an open loop at a
  * fixed offered rate with one closed-loop reader on the live view. */
object Replicate {
  val RetainVersions = 3
  val ChunkTxs = 300
  val OfferedTxPerSec = 150.0
  val MinChunks = 3

  final case class Progress(batchId: Long, endOffset: Long, inputRows: Long,
                            durations: Map[String, Long], stateRows: Long, stateMem: Long)

  /** An offered transaction; `open` marks those of the open loop. */
  final case class TxRecord(offset: Long, dueNs: Long, events: Int, committed: Boolean, open: Boolean)

  def events(t: GenTx): Seq[TxEvent] = {
    val none = Change(0L, "none", "", 0L, 0.0)
    val data = t.events.zipWithIndex.map { case (e, i) =>
      TxEvent(t.tx, i + 1L, "data", Change(e.pos, e.op, e.tbl, e.id, e.amount))
    }
    (TxEvent(t.tx, 0L, "begin", none) +: data) :+
      TxEvent(t.tx, data.size + 1L, if (t.committed) "commit" else "rollback", none)
  }

  /** One running replica: the query, its input and what it published. */
  final class Live(ctx: Ctx, gen: ReplicateGen, viewDir: String,
                   initial: Map[(String, Long), (Double, Long)], startPos: Long, probe: Boolean) {
    private val spark = ctx.spark
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in: MemoryStream[TxEvent] = MemoryStream[TxEvent]
    val oracle: Oracle.State = mutable.HashMap.from(initial)
    val publishNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val mergeS = new ConcurrentHashMap[Long, java.lang.Double]()
    val writes = new ConcurrentHashMap[Long, SinkWrite]()
    val progress = new ConcurrentLinkedQueue[Progress]()
    val txs = new ConcurrentLinkedQueue[TxRecord]()
    @volatile var lastPos: Long = startPos

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.sources.nonEmpty && p.sources(0).endOffset != null) {
          val st = p.stateOperators.headOption
          progress.add(Progress(p.batchId, p.sources(0).endOffset.trim.toLong, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L)))
        }
      }
    }
    spark.streams.addListener(listener)

    val query: StreamingQuery = ChangelogStream.filterCommitted(in.toDS(), txTimeoutMs = 0)
      .writeStream
      .foreachBatch { (b: Dataset[Change], id: Long) =>
        val t0 = System.nanoTime()
        ctx.tracer.span("sink.merge") {
          UpsertSink.mergeBatch(b, viewDir, id + 1, Bootstrap.NumBuckets, RetainVersions, Seq("lastPos"))
        }
        val t1 = System.nanoTime()
        publishNs.put(id, t1)
        mergeS.put(id, (t1 - t0) / 1e9)
        if (probe) writes.put(id, SinkProbe.latest(viewDir))
        ()
      }
      .option("checkpointLocation", ctx.dir(s"ckpt-${viewDir.hashCode.abs}"))
      .start()

    /** Offer transactions to the stream; the oracle applies them in order. */
    def add(batch: Seq[GenTx], dueNs: Long, open: Boolean): Long = {
      val off = in.addData(batch.flatMap(events)).json().trim.toLong
      Oracle.applyTxs(oracle, batch)
      batch.foreach(t => txs.add(TxRecord(off, dueNs, t.events.size, t.committed, open)))
      lastPos = batch.last.events.last.pos
      off
    }

    /** Closed loop: offer one chunk and wait until it is published. */
    def drainChunk(txs: Int): (Double, Int, Set[Long]) = {
      val chunk = Vector.fill(txs)(gen.nextTx())
      val before = publishNs.keySet().asScala.toSet
      val t0 = System.nanoTime()
      add(chunk, t0, open = false)
      query.processAllAvailable()
      val secs = Stats.secs(t0)
      (secs, chunk.filter(_.committed).map(_.events.size).sum,
        publishNs.keySet().asScala.toSet -- before)
    }

    /** One reader operation: a point read (`kind` 0) or a range read of
      * the rows changed since recent positions (`kind` 1). */
    def readOnce(kind: Int, r: SplittableRandom = new SplittableRandom(0)): Long =
      ctx.tracer.span("view.read") {
        if (kind == 0) {
          val (t, id) = gen.sampleKey(r)
          UpsertSink.readCurrent(spark, viewDir)
            .filter(col("tbl") === t && col("id") === id).collect().length.toLong
        } else
          UpsertSink.readCurrentRange(spark, viewDir, "lastPos", lit(lastPos - 2000), lit(Long.MaxValue)).count()
      }

    /** Open loop for `seconds`: one thread offers transactions on a fixed
      * schedule, one closed-loop reader queries the view (three point
      * reads, then one range read, and so on). Returns the
      * generator's worst lateness (ms), its stop time and the reads as
      * (kind, ms). */
    def openLoop(seconds: Double, readerSeed: Long): (Double, Long, Seq[(Int, Double)]) = {
      @volatile var stop = false
      var lateNs = 0L
      val periodNs = (1e9 / OfferedTxPerSec).toLong
      val start = System.nanoTime() + 20000000L
      val generator = new Thread(() => {
        var i = 0L
        while (!stop) {
          val due = start + i * periodNs
          val now = System.nanoTime()
          if (now < due) LockSupport.parkNanos(due - now)
          else lateNs = math.max(lateNs, now - due)
          add(Seq(gen.nextTx()), due, open = true)
          i += 1
        }
      }, "perfbench-generator")
      val reads = new ConcurrentLinkedQueue[(Int, Double)]()
      val reader = new Thread(() => {
        val r = new SplittableRandom(readerSeed)
        var j = 0
        while (!stop) {
          val t0 = System.nanoTime()
          val kind = if (j % 4 == 3) 1 else 0
          val ok = ctx.attempt("view read")(readOnce(kind, r))
          if (ok.isDefined) reads.add((kind, (System.nanoTime() - t0) / 1e6))
          j += 1
        }
      }, "perfbench-reader")
      generator.start()
      reader.start()
      Thread.sleep((seconds * 1000).toLong)
      stop = true
      val stopNs = System.nanoTime()
      generator.join()
      reader.join()
      (lateNs / 1e6, stopNs, reads.asScala.toSeq)
    }

    /** Publish time of the batch holding each offered transaction. */
    def batchOf(): Long => Option[Long] = {
      val ps = progress.asScala.toSeq.sortBy(_.batchId)
      off => ps.find(_.endOffset >= off).flatMap(p => Option(publishNs.get(p.batchId)).map(_.longValue))
    }

    def stopAndCheck(): Unit = {
      query.processAllAvailable()
      query.stop()
      ctx.tracer.drain()
      spark.streams.removeListener(listener)
      ctx.attempt("replica check") {
        val got = UpsertSink.readCurrent(spark, viewDir).collect()
          .map(r => (r.getAs[String]("tbl"), r.getAs[Long]("id")) ->
            (r.getAs[Double]("value"), r.getAs[Long]("lastPos"))).toMap
        val want = oracle.toMap
        if (got != want) {
          val wrong = want.count { case (k, v) => !got.get(k).contains(v) } + got.keySet.diff(want.keySet).size
          ctx.fail(s"replica differs from into-entity-map: $wrong keys (got ${got.size}, expected ${want.size})")
        }
      }
    }
  }
}
