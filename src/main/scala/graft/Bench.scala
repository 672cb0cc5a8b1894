package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Queries are materialized through the `noop` sink — a bare `count()`
  * would let Catalyst prune most of a projection-only plan and
  * under-report; noop executes the full plan and discards rows, which
  * is the honest single-node throughput number.
  *
  * Noise handling (this host has multi-minute phases where JVM threads
  * starve — identical code swings 6 s ↔ 40 s): every query runs TWO
  * samples; if they disagree beyond tolerance a third breaks the tie,
  * and the headline per query is the MEDIAN of its samples. All raw
  * samples and a per-query ok/failed status are emitted so a regression
  * can't hide behind a lucky sample and a broken query can't "pass" by
  * being timed while throwing.
  */
object Bench {

  /** Exact-oracle INSTRUMENTS — quadratic-by-construction baselines
    * kept graded because their DuckDB replays anchor the banded/
    * blocked twins' correctness, not because their wall time is an
    * operator signal (r16: two same-round sf1 runs moved
    * near_dup_jaccard 169 → 243 s with zero code change). The
    * artifact reports them on their own total so the OPERATOR total
    * stays a stable round-over-round regression signal. */
  val Instruments: Set[String] = Set("near_dup_jaccard", "dedup_pareto")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** One timed execution of query `name` against `dir`, in seconds;
    * Left(error, cut to 80 chars) on failure. Shared by [[ScaleBench]]. */
  def runOnce(spark: SparkSession, dir: String, name: String,
              fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    val r =
      try {
        val df = fn(spark, dir)
        try { df.write.format("noop").mode("overwrite").save(); Right(()) }
        // checkpoint-backed results (incrementalNearDup) hold RDD
        // blocks clearCache can't see; release is a no-op otherwise
        finally graft.operators.Materialize.release(df)
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[bench] $name failed: ${msg.take(200)}")
        Left(msg.take(80))
      }
    // drop caches/broadcasts between queries so one operator's
    // working set can't GC-starve the next measurement
    spark.catalog.clearCache()
    r.map(_ => (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Sessions.benchLocal(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup outside the timed region
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // Fixed-work noise canary: this host has multi-minute phases where
    // JVM threads starve and identical code runs 10-100× slower. One
    // canary per query timestamps those phases inside the artifact —
    // a slow query next to a slow canary is the host, not the plan.
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadAvg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ")(0)
      catch { case _: Throwable => "-1" }
    val loadStart = loadAvg()

    // canaries BRACKET the samples: cy before, cy2 after — a starvation
    // phase that begins mid-samples (the common case: the query itself
    // pushes the host into contention) shows in cy2 even when cy was
    // quiet, so slow samples beside a slow cy2 still read as host noise
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cy = canary()
      val r = runOnce(spark, sfDir, name, fn) match {
        case Left(err) => (name, Seq.empty[Double], Option(err))
        case Right(s1) =>
          runOnce(spark, sfDir, name, fn) match {
            case Left(err) => (name, Seq(s1), Option(err))
            case Right(s2) =>
              val disagree = math.abs(s1 - s2) > math.max(2.0, 0.5 * math.min(s1, s2))
              if (!disagree) (name, Seq(s1, s2), None)
              else runOnce(spark, sfDir, name, fn) match {
                // a failed tie-breaker is a real failure signal, not a
                // fallback to "ok" — surface it in status/failed
                case Left(err) => (name, Seq(s1, s2), Option(err))
                case Right(s3) => (name, Seq(s1, s2, s3), None)
              }
          }
      }
      (r._1, r._2, r._3, cy, canary())
    }

    def jnum(d: Double): String = f"$d%.3f"
    // any successful samples still contribute a median (keeps the total
    // honest); the error, if any, shows in status + failed regardless
    val ok = results.collect { case (n, ss, _, _, _) if ss.nonEmpty => n -> median(ss) }
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    val samples = results.collect { case (n, ss, _, _, _) if ss.nonEmpty =>
      "\"" + n + "\":[" + ss.map(jnum).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val status = results.map { case (n, _, err, _, _) =>
      "\"" + n + "\":\"" + err.fold("ok")(e => "failed: " + e.replaceAll("[\"\\\\\\n\\r\\t]", " ")) + "\""
    }.mkString("{", ",", "}")
    val canaries = results.map { case (n, _, _, cy, cy2) =>
      "\"" + n + "\":[" + jnum(cy) + "," + jnum(cy2) + "]"
    }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val instTotal = ok.filter(kv => Instruments(kv._1)).map(_._2).sum
    val opsTotal = total - instTotal
    val instList = Instruments.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val nFailed = results.count(_._3.isDefined)
    // The driver's stdout capture truncates long lines mid-JSON — the
    // old ~20 KB line (inlined samples/status/canary maps) came back
    // `parsed: null` every round (r16-r18 verdicts). The stdout line is
    // therefore the COMPACT contract surface only (metric/value/unit/
    // per-query medians/totals/failed/sf, ~3 KB for 138 queries); the
    // full evidence maps live exclusively in the file artifact.
    // both strings share one head and one tail, so the stdout contract
    // and the file artifact cannot drift apart
    val head = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,""" +
      s""""operators_total":${jnum(opsTotal)},"instruments_total":${jnum(instTotal)},"""
    val tail = s""""failed":$nFailed,"cpus":$cpus,"sf":"$sfDir"}"""
    val line = head + tail
    val full = head + s""""instruments":$instList,""" +
      s""""samples":$samples,"status":$status,"canary":$canaries,""" +
      s""""load":["$loadStart","${loadAvg()}"],""" + tail
    // File artifacts FIRST (and their stderr notices), so the JSON line
    // is the very last stdout before sbt's own [success] trailer — a
    // tail-limited capture then always contains the complete line.
    // Default artifacts: BENCH_LAST.json (compat) + a cpus-suffixed
    // copy so a 32-core and an 8-core driver run in the same round
    // don't clobber each other's per-query maps (r18 lost the c32 map
    // that way). Best-effort: an unwritable working dir must not turn
    // a successful run into a non-zero exit.
    val outPaths = sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) => Seq(java.nio.file.Paths.get(p)) // dev runs: exactly where asked
      case None =>
        Seq("BENCH_LAST.json", s"BENCH_LAST_c$cpus.json").map(java.nio.file.Paths.get(_))
    }
    outPaths.foreach { outPath =>
      try {
        java.nio.file.Files.writeString(outPath, full + "\n")
        System.err.println(s"[bench] artifact written to ${outPath.toAbsolutePath}")
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] artifact write to $outPath failed: $e (results are on stdout)")
      }
    }
    println(line)
    spark.stop()
  }
}
