package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Roster passes over read-only generated tables: one or two
  * `SparkEntry.queries` keys per operator module (analytics, Dedup,
  * Ann, Corpus, Bpe, Graph, ZoneMap), each with a DuckDB oracle. Every pass writes each result as parquet; the runner replays
  * `SparkEntry.oracleSql` in DuckDB over the same tables and compares. */
object AnalyticsRun {
  val Roster: Seq[String] = Seq("q3_shipping_priority", "sessionize", "dedup_containment",
    "ann_ivf", "bm25_topk", "token_count_bpe", "page_rank", "zonemap_prune")
  val MinPasses = 1

  /** The roster in a seed-permuted order, fixed for the run. */
  def order(seed: Long): Seq[String] = {
    val r = new SplittableRandom(seed)
    val a = Roster.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Persisted RDDs left behind by a query. */
  def residue(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One pass; returns (key, seconds, storage residue) per query. */
  def pass(ctx: Ctx, tables: String, out: String, keys: Seq[String]): Seq[(String, Double, Int)] = {
    val queries = SparkEntry.queries
    keys.flatMap { k =>
      val t0 = System.nanoTime()
      val done = ctx.attempt(s"analytics $k") {
        ctx.tracer.span(s"analytics.$k") {
          queries(k)(ctx.spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
        }
      }
      val secs = Stats.secs(t0)
      val left = residue(ctx.spark)
      release(ctx.spark)
      done.map(_ => (k, secs, left))
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tables = ctx.args("tables")
    val keys = order(ctx.seed)
    ctx.extra("warmup_s") = Stats.time(pass(ctx, ctx.args("warm-tables"), ctx.dir("warm-out"), keys))._2

    val before = ctx.tracer.total.copy()
    val untraced = if (ctx.trace) {
      ctx.tracer.enabled = false
      val (_, s) = Stats.time(pass(ctx, tables, ctx.dir("untraced-out"), keys))
      ctx.tracer.enabled = true
      Seq(s)
    } else Nil
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Int)])]
    val budget = if (ctx.trace) ctx.seconds / 2 else ctx.seconds
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || Stats.secs(t0) < budget) {
      val p = passes.size
      passes += Stats.time(pass(ctx, tables, ctx.dir(s"out/pass$p"), keys)).swap
    }
    ctx.tracer.drain()
    val counters = ctx.tracer.total.since(before)

    val pass50 = Stats.median(passes.map(_._1).toSeq)
    ctx.e2e("pass_s") = pass50
    // each query's result is visible when it has been written: from its
    // submission, so the seed-permuted order does not move the figure
    val latencies = passes.toSeq.flatMap(_._2.map(_._2))
    ctx.e2e("visible_lag_ms_p50") = Stats.median(latencies) * 1000
    ctx.e2e("visible_lag_ms_p90") = Stats.quantile(latencies, 0.9) * 1000
    ctx.extra("passes") = passes.size
    ctx.extra("pass_samples_s") = passes.map(_._1).toList
    ctx.extra("order") = keys.toList
    ctx.extra("measured_counters") = counters.toMap
    ctx.extra("query_s") = keys.map(k => k -> Stats.median(passes.toSeq.flatMap(_._2.filter(_._1 == k).map(_._2)))).toMap
    ctx.extra("storage_residue") = passes.last._2.map { case (k, _, r) => k -> r }.toMap

    if (ctx.trace) {
      val tr = ctx.tracer
      Roster.foreach { k =>
        val ss = tr.named(s"analytics.$k")
        if (ss.nonEmpty) {
          val n = ss.size.toDouble
          ctx.layers(s"analytics.$k.s") = Stats.median(ss.map(_.seconds))
          ctx.layers(s"analytics.$k.jobs") = ss.map(_.counters.jobs).sum / n
          ctx.layers(s"analytics.$k.shuffle_bytes") = ss.map(_.counters.shuffleBytes).sum / n
          ctx.layers(s"analytics.$k.driver_gap_s") =
            Stats.median(ss.map(s => s.seconds - s.counters.stageWallMs / 1e3))
        }
        ctx.layers(s"analytics.$k.storage_residue") =
          passes.last._2.find(_._1 == k).map(_._3.toDouble).getOrElse(0.0)
      }
      ctx.layers("trace.overhead_ratio") = pass50 / Stats.median(untraced) - 1
    }
    Engine.report(ctx, counters)

    // oracle SQL for the runner's DuckDB replay, generated against the
    // same tables (some oracles embed corpus-trained artifacts)
    val sql = Roster.map { k =>
      k -> SparkEntry.oracleSql.get(k)
        .orElse(SparkEntry.oracleSqlDynamic.get(k).map(_(spark, tables))).getOrElse("")
    }.toMap
    Files.write(Paths.get(ctx.runDir, "oracle_sql.json"), Json.obj(sql).getBytes("UTF-8"))
    ctx.extra("passes_out") = (0 until passes.size).map(p => s"${ctx.runDir}/out/pass$p").toList
  }
}
