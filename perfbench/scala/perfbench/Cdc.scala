package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.streaming.UpsertSink

/** The `cdc` workload: dumpr's contract end to end. A bulk load of a
  * snapshot plus binlog backlog through graft's batch chain publishes
  * the view (timed as `pass_s`); that view then goes live: an open loop
  * at a fixed offered rate beside one closed-loop reader
  * (`visible_lag_ms_*`), preceded in traced runs by a closed-loop
  * catch-up of fixed backlog chunks. Every bulk load and the final live
  * view are checked against the into-entity-map oracle. */
object CdcRun {
  /** Live key space: the bulk load's, plus 10% keys it never saw. */
  def liveIds(keysPerTable: Int): Int = CdcGen.keySpace(keysPerTable) * 11 / 10

  def startLive(ctx: Ctx, inp: Bootstrap.Inputs, seed: Long, viewDir: String,
                probe: Boolean): Replicate.Live = {
    val startPos = inp.token._2
    new Replicate.Live(ctx, new ReplicateGen(seed, liveIds(Bootstrap.KeysPerTable), startPos),
      viewDir, inp.expected, startPos, probe)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var inp: Bootstrap.Inputs = null
    val setups = (1 to 3).map { _ =>
      Stats.time {
        inp = Bootstrap.write(spark, CdcGen.bootstrap(ctx.seed, Bootstrap.KeysPerTable, Bootstrap.LogEvents),
          ctx.dir("input"))
      }._2
    }
    ctx.e2e("setup_s") = Stats.median(setups)

    // untimed warm-up: one bulk load of another seed's inputs; a smaller
    // one left the first timed load 20-30% slower than the next
    ctx.extra("warmup_s") = Stats.time {
      val warm = Bootstrap.write(spark,
        CdcGen.bootstrap(ctx.warmSeed, Bootstrap.KeysPerTable, Bootstrap.LogEvents), ctx.dir("warm-input"))
      Bootstrap.pass(ctx, warm, s"${ctx.runDir}/warm-view")
      Main.deleteRec(new File(s"${ctx.runDir}/warm-view"))
    }._2

    val before = ctx.tracer.total.copy()
    ctx.tracer.enabled = false
    // bulk loads for 30% of the run, at least MinPasses, each into a
    // fresh view; the last one stays as the live view
    val loads = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var viewDir = ""
    while (loads.size < Bootstrap.MinPasses || Stats.secs(t0) < ctx.seconds * 0.3) {
      if (viewDir.nonEmpty) Main.deleteRec(new File(viewDir))
      viewDir = s"${ctx.runDir}/view-${loads.size}"
      loads += Bootstrap.pass(ctx, inp, viewDir)
    }
    val live = startLive(ctx, inp, ctx.seed, viewDir, probe = ctx.trace)
    // untimed warm-up of the live path on this replica: one small chunk
    // and one point read
    ctx.extra("live_warmup_s") = Stats.time {
      live.drainChunk(Replicate.ChunkTxs / 3)
      live.readOnce(0)
    }._2
    // catch-up chunks only in traced runs: they give the per-layer split
    // and the deterministic sink counters
    ctx.tracer.enabled = ctx.trace
    val drains = if (ctx.trace) (1 to Replicate.MinChunks).map(_ => live.drainChunk(Replicate.ChunkTxs)) else Nil
    val (lateMs, stopNs, reads) = live.openLoop(ctx.seconds, ctx.seed + 77)
    live.stopAndCheck()
    ctx.tracer.drain()
    val counters = ctx.tracer.total.since(before)

    val pass50 = Stats.median(loads.toSeq)
    ctx.e2e("pass_s") = pass50
    ctx.extra("bootstrap_events_per_s") = inp.in.events / pass50
    ctx.extra("events_per_load") = inp.in.events
    ctx.extra("load_samples_s") = loads.toList

    // visible lag: each committed open-loop event, from when it was due
    // to the publish of the version that holds it
    val find = live.batchOf()
    val open = live.txs.asScala.toSeq.filter(t => t.open && t.committed)
    val lags = open.flatMap { t =>
      find(t.offset) match {
        case Some(pub) => Seq.fill(t.events)((pub - t.dueNs) / 1e6)
        case None => ctx.fail(s"offered tx at offset ${t.offset} never published"); Nil
      }
    }
    ctx.attempted += 1
    if (lags.isEmpty) ctx.fail("open loop published nothing")
    else {
      ctx.e2e("visible_lag_ms_p50") = Stats.median(lags)
      ctx.e2e("visible_lag_ms_p90") = Stats.quantile(lags, 0.9)
    }
    if (reads.isEmpty) ctx.fail("reader completed no reads")
    for ((kind, name) <- Seq(0 -> "view.point_read_ms_p50", 1 -> "view.range_read_ms_p50")) {
      val ms = reads.filter(_._1 == kind).map(_._2)
      if (ms.nonEmpty) ctx.extra(name) = Stats.median(ms)
    }
    val backlogEnd = open.filter(t => find(t.offset).forall(_ > stopNs)).map(_.events).sum
    ctx.extra("open_loop_events") = open.map(_.events).sum
    ctx.extra("open_loop_batches") = live.publishNs.size - drains.size - 1
    ctx.extra("lag_samples") = lags.size
    ctx.extra("reads") = reads.size
    ctx.extra("measured_counters") = counters.toMap
    ctx.extra("gen_late_ms_max") = lateMs
    ctx.extra("gen_backlog_events_end") = backlogEnd

    if (ctx.trace) {
      ctx.layers("stream.catchup_events_per_s") = drains.map(_._2).sum / drains.map(_._1).sum
      ctx.extra("drain_samples_s") = drains.map(_._1).toList
      traceLive(ctx, live, viewDir, drains, lateMs, backlogEnd)
      traceLoads(ctx, inp, pass50)
    }
    Engine.report(ctx, counters)
  }

  /** Traced bulk loads: one exactly like the timed ones, whose time over
    * the untraced `pass_s` is the tracing overhead, and one that
    * materializes each chain prefix for stage self times, scan and
    * shuffle counts and the stage row ratios, which must match the
    * generator exactly. */
  def traceLoads(ctx: Ctx, inp: Bootstrap.Inputs, untracedPass: Double): Unit = {
    val tr = ctx.tracer
    val plain = s"${ctx.runDir}/traced-view"
    val tracedLoad = tr.span("cdc.load")(Bootstrap.pass(ctx, inp, plain))
    Main.deleteRec(new File(plain))
    ctx.layers("trace.overhead_ratio") = tracedLoad / untracedPass - 1
    val dir = s"${ctx.runDir}/prefix-view"
    Bootstrap.tracedPass(ctx, inp, dir).foreach { case (k, v) => ctx.layers(k) = v }
    Main.deleteRec(new File(dir))
    tr.drain()
    val fold = tr.countersUnder("cdc.fold")
    val n = tr.named("cdc.fold").size.toDouble
    ctx.layers("sources.scan_rows") = fold.inputRecords / n
    ctx.layers("sources.scan_bytes") = fold.inputBytes / n
    ctx.layers("cdc.jobs") = fold.jobs / n
    ctx.layers("cdc.shuffle_bytes") = fold.shuffleBytes / n
    ctx.layers("cdc.spill_bytes") = fold.spillBytes / n
    ctx.extra("traced_load_s") = tracedLoad
    val log = inp.in.log
    val rolledBack = log.filter(_.etype == CdcGen.RollbackEtype).map(_.tx).toSet
    val committedN = log.count(e => !rolledBack(e.tx))
    val filedN = log.count(e => !rolledBack(e.tx) && e.etype != CdcGen.RotateEtype)
    val keptN = log.count(e => !rolledBack(e.tx) && CdcGen.Kept.contains(e.tbl))
    val st = Bootstrap.stages(ctx.spark, inp).toMap
    val (c, f, k) = (st("filter_committed").count(), st("attach_file").count(), st("filter_tables").count())
    ctx.attempt("cdc stage row counts") {
      if ((c, f, k) != ((committedN, filedN, keptN)))
        ctx.fail(s"cdc stage rows ($c, $f, $k), generator says ($committedN, $filedN, $keptN)")
    }
    ctx.layers("cdc.committed_ratio") = c.toDouble / log.size
    ctx.layers("cdc.tables_kept_ratio") = k.toDouble / f
  }

  /** Streaming split from the query's progress reports, and sink
    * counters read from the view directory after each drained chunk. */
  def traceLive(ctx: Ctx, live: Replicate.Live, viewDir: String,
                drains: Seq[(Double, Int, Set[Long])], lateMs: Double, backlogEnd: Int): Unit = {
    val tr = ctx.tracer
    val ps = live.progress.asScala.toSeq.filter(p => live.mergeS.containsKey(p.batchId))
    def p50(k: String) = Stats.median(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    ctx.layers("stream.batch_ms_p50") = p50("triggerExecution")
    ctx.layers("stream.get_batch_ms_p50") = p50("getBatch")
    ctx.layers("stream.query_planning_ms_p50") = p50("queryPlanning")
    ctx.layers("stream.add_batch_ms_p50") = p50("addBatch")
    ctx.layers("stream.wal_commit_ms_p50") = p50("walCommit")
    ctx.layers("stream.events_per_batch_p50") = Stats.median(ps.map(_.inputRows.toDouble))
    ctx.layers("stream.tx_state_rows") = ps.last.stateRows.toDouble
    ctx.layers("stream.state_memory_bytes") = ps.last.stateMem.toDouble
    ctx.layers("sink.merge_s_p50") = Stats.median(live.mergeS.values().asScala.map(_.doubleValue).toSeq)
    val merges = tr.named("sink.merge")
    ctx.layers("sink.merge_jobs") = Stats.median(merges.map(_.counters.jobs.toDouble))
    ctx.layers("sink.merge_tasks") = Stats.median(merges.map(_.counters.tasks.toDouble))
    // one batch per drained chunk, so these repeat exactly for a seed
    val perChunk = drains.filter(_._3.size == 1)
      .flatMap { case (_, changes, ids) => Option(live.writes.get(ids.head)).map(w => (changes, w)) }
    if (perChunk.nonEmpty) {
      val changes = perChunk.map(_._1).sum.toDouble
      ctx.layers("sink.touched_bucket_ratio") =
        perChunk.map(_._2.touchedBuckets).sum.toDouble / (perChunk.size * Bootstrap.NumBuckets)
      ctx.layers("sink.rows_rewritten_per_change") = perChunk.map(_._2.rows).sum / changes
      ctx.layers("sink.bytes_written_per_change") = perChunk.map(_._2.bytes).sum / changes
      ctx.layers("sink.files_per_version") = perChunk.map(_._2.files).sum.toDouble / perChunk.size
    }
    Seq("view.point_read_ms_p50", "view.range_read_ms_p50").foreach { k =>
      ctx.extra.get(k).foreach(v => ctx.layers(k) = v.asInstanceOf[Double])
    }
    // range-read pruning on the final view: files the zone maps keep for
    // "changed since the last chunk" over all current files
    val lo = live.lastPos - Replicate.ChunkTxs * 3L
    val kept = UpsertSink.currentRangeFiles(ctx.spark, viewDir, "lastPos", lit(lo), lit(Long.MaxValue)).size
    ctx.layers("view.files_scanned_ratio") = kept.toDouble / SinkProbe.currentFiles(viewDir).size
    ctx.layers("gen.late_ms_max") = lateMs
    ctx.layers("gen.backlog_events_end") = backlogEnd.toDouble
  }
}
