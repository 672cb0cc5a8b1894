package graft

import java.nio.file.{Files, Paths}

/** One-command scaling sweep: times a representative query subset at a
  * list of data-scale factors and emits the scaling table of
  * `git show 6c9821a:SURVEY.md` §14 as a JSON artifact, so scaling
  * regressions are diffable round-over-round instead of hand-assembled.
  *
  * `runMain graft.ScaleBench <baseDir> <workDir> <factorsCsv> [queriesCsv]`
  *
  *  - factor 1 reads `baseDir` directly; factor N materializes (once —
  *    a `_SCALE_OK` marker makes re-runs reuse it) a [[ScaleData]]
  *    replica under `workDir/x<N>`;
  *  - each query runs ONCE per factor through [[Verify.timed]]
  *    (cold-ish single samples — the sweep's signal is the RATIO
  *    between factors, which host noise affects far less than
  *    absolute medians), materialized through the `noop` sink: a bare
  *    `count()` would let Catalyst prune most of a projection-only
  *    plan, while noop executes the full plan and discards the rows;
  *  - output: one JSON line (stdout) and a file
  *    (`$SPARK_GRAFT_SCALE_OUT`, default `SCALE_LAST.json`) with
  *    per-query seconds per factor and the largest/smallest-factor
  *    ratio per query.
  */
object ScaleBench {

  /** Representative subset: one or two rows per operator family
    * (pushdown analytics, CDC fold/decode/migrate, windowed/session,
    * exact + banded + incremental + embedding dedup, the ANN trade
    * space, sketches, text/BPE budgets). Override with the 4th arg. */
  val defaultQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "cdc_apply",
    "cdc_entity_state", "cdc_schema_migrate", "cdc_debezium_decode",
    "sessionize", "event_windowed_agg", "rolling_agg",
    "dedup_exact", "dedup_minhash_lsh", "dedup_cc_lsh",
    "dedup_incremental_lsh", "dedup_embedding_lsh",
    "ann_lsh", "ann_ivf", "ann_ivfpq", "kmeans_assign",
    "token_count_bpe", "seq_pack_bpe", "group_quantiles",
    "distinct_kmv", "corpus_stats", "heavy_hitters_cms",
    // r11 retrieval/quality surface (posting joins + corpus LM)
    "bm25_topk", "lm_score",
    // r13: the LM's bucket-hashed scale twin (broadcast model, map-pass
    // scoring) — its ratio beside lm_score's IS the twin's argument
    "lm_score_bucket",
    // r16: the bench top-10 tail joins the sweep (r15 verdict task 3 —
    // the multi-arm pareto grader, the chunk-pair banded dedups,
    // suffix-array substring dup, the iterative graph op, and the
    // manifest-pruning scan path; their scale SHAPES were argued in
    // code, this makes the artifact prove them).
    // dedup_pareto is deliberately ABSENT: its exact-baseline arm is
    // quadratic BY CONSTRUCTION (the recall ground truth), and the
    // r16 32× attempt measured the bound — at 160k docs the verify
    // attach stream exceeded this host's disk (>75 GB spill, job
    // aborted). The grader is an oracle-scale instrument; its SCALE
    // path is the banded arms, which the sweep times as
    // dedup_minhash_lsh / dedup_cc_lsh.
    "ann_pareto", "dedup_simhash", "dedup_semantic_keep",
    "dedup_containment", "phash_dedup", "substr_dup", "page_rank",
    "zonemap_prune",
    // r16: dedup_semantic beside dedup_embedding_lsh = the measured
    // SemDeDup-vs-banded-LSH crossover (r15 verdict task 6); the
    // _scaled twin (collapse + cardinality-derived k) is the fix the
    // crossover motivated — its line beside the fixed-k one IS the
    // argument
    "dedup_semantic", "dedup_semantic_scaled")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleBench <baseDir> <workDir> <factorsCsv> [queriesCsv]")
    val base = args(0)
    val work = args(1)
    val factors = args(2).split(',').map(_.trim.toInt).toSeq
    val queries =
      if (args.length >= 4) args(3).split(',').map(_.trim).toSeq
      else defaultQueries
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Sessions.local(sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt))
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM warmup

    // the marker pins (factor, base, base fingerprint): a re-run
    // against a different base dir — or the SAME dir regenerated —
    // must rebuild the replica, or the sweep would compare factor-1
    // on new data against factor-N replicated from old data
    // recursive walk: driver data is one FILE per table, ScaleData
    // replicas are DIRECTORIES of part files (whose mtimes/lengths a
    // top-level stat can't see) — fingerprint the leaf files, and
    // digest with MD5 rather than 32-bit hashCode so an in-place
    // regeneration can't silently alias a stale replica
    def baseFingerprint(): String = {
      def leaves(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .toSeq.sortBy(_.getName).flatMap(leaves)
        else Seq(f)
      val root = new java.io.File(base)
      val entries = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
        .flatMap(leaves)
        .map(f => s"${f.getAbsolutePath}:${f.lastModified}:${f.length}")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(entries.mkString(",").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    def dirFor(factor: Int): String =
      if (factor == 1) base
      else {
        val out = s"$work/x$factor"
        val marker = Paths.get(out, "_SCALE_OK")
        val stamp = s"factor=$factor base=$base fp=${baseFingerprint()}\n"
        val fresh = Files.exists(marker) && Files.readString(marker) == stamp
        if (!fresh) {
          System.err.println(s"[scalebench] generating $out (factor $factor)")
          ScaleData.generate(spark, base, out, factor)
          Files.writeString(marker, stamp)
        }
        out
      }

    // one timed sample per (query, factor); failures recorded, not fatal
    val results: Seq[(String, Int, Either[String, Double])] =
      factors.flatMap { f =>
        val dir = dirFor(f)
        // each factor is a new corpus key for the dup-closure memo:
        // drop the previous factor's closures (checkpoint blocks the
        // per-query release below can't reach) or the sweep pins two
        // node-sized block sets per factor until JVM exit
        graft.operators.Dedup.clearComponentsMemo()
        // input-data artifacts (Debezium envelopes) materialize OUTSIDE
        // the timed windows: input synthesis is harness work, not
        // operator cost (r14's cdc_debezium_decode 13× was mostly this)
        SparkEntry.warmInputs(spark, dir)
        queries.map { name =>
          val (secs, err) = Verify.timed(spark, dir, SparkEntry.queries(name)) { df =>
            try df.write.format("noop").mode("overwrite").save()
            // checkpoint-backed results (incrementalNearDup) hold RDD
            // blocks clearCache can't see; release is a no-op otherwise
            finally graft.operators.Materialize.release(df)
          }
          val out = err.map(Verify.message).toLeft(secs)
          System.err.println(f"[scalebench] x$f $name: " +
            out.fold(e => s"FAILED ${e.take(200)}", s => f"$s%.2f s"))
          (name, f, out.left.map(_.take(80)))
        }
      }

    def jnum(d: Double): String = f"$d%.3f"
    def jstr(s: String): String =
      "\"" + s.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    val perQuery = queries.map { q =>
      val cells = factors.map { f =>
        val cell = results.find(r => r._1 == q && r._2 == f).get._3
        "\"" + f + "\":" + cell.fold(e => jstr("failed: " + e), jnum)
      }.mkString("{", ",", "}")
      jstr(q) + ":" + cells
    }.mkString("{", ",", "}")
    val ratios = queries.flatMap { q =>
      val lo = results.find(r => r._1 == q && r._2 == factors.min).get._3
      val hi = results.find(r => r._1 == q && r._2 == factors.max).get._3
      (lo, hi) match {
        case (Right(a), Right(b)) if a > 0 => Some(jstr(q) + ":" + jnum(b / a))
        case _ => None
      }
    }.mkString("{", ",", "}")
    val totals = factors.map { f =>
      val t = results.collect { case (_, `f`, Right(s)) => s }.sum
      "\"" + f + "\":" + jnum(t)
    }.mkString("{", ",", "}")
    val nFailed = results.count(_._3.isLeft)
    val line = s"""{"metric":"scale","base":${jstr(base)},""" +
      s""""factors":[${factors.mkString(",")}],"queries":$perQuery,""" +
      s""""ratio_max_over_min":$ratios,"totals":$totals,"failed":$nFailed}"""
    println(line)
    val outPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_LAST.json"))
    Files.writeString(outPath, line + "\n")
    System.err.println(s"[scalebench] artifact written to ${outPath.toAbsolutePath}")
    spark.stop()
  }
}
