package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** The per-query runner. `main` is the driver-run correctness dump:
  * each SparkEntry.queries result → parquet, plus oracle_sql.json for
  * the driver's DuckDB compare and `_timings.json` with the wall
  * seconds of every key it ran. [[ScaleBench]] times its queries
  * through the same [[timed]] step. */
object Verify {
  type Query = (SparkSession, String) => DataFrame

  /** One wall-clocked run of `fn` against `dir` through `action`: the
    * seconds (to the failure, if it threw) and the error, if any.
    * Clears the cache afterwards (inside the clock): operators
    * persist() intermediates (dedup groups/bands), and releasing them
    * keeps cached partitions from accumulating across queries and
    * one query's working set from GC-starving the next. */
  def timed(spark: SparkSession, dir: String, fn: Query)(
      action: DataFrame => Unit): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err =
      try { action(fn(spark, dir)); None }
      catch { case e: Throwable => Some(e) }
    spark.catalog.clearCache()
    ((System.nanoTime() - t0) / 1e9, err)
  }

  def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName)

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")

  /** Run `queries` (in their iteration order) against `sfDir` into
    * `outDir`: one `coalesce(1)` parquet dir per key, `oracle_sql.json`
    * (the oracles of those keys), `_failures.json` and `_timings.json`.
    * The session stays open. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, Query]): Unit = {
    new java.io.File(outDir).mkdirs()
    // failures must be first-class artifacts, not stderr lines: a query
    // that throws writes <out>/<name>/_ERROR (parquet readers ignore
    // underscore files; an _ERROR-only dir fails the driver's read →
    // its per-query `err` field populates) and lands in _failures.json
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    queries.foreach { case (name, fn) =>
      val (secs, err) = timed(spark, sfDir, fn)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      timings(name) = secs
      err.foreach { e =>
        val msg = message(e)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        new java.io.File(s"$outDir/$name").mkdirs()
        val head = (msg +: e.getStackTrace.take(8).map("  at " + _)).mkString("\n")
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), head + "\n")
      }
      // clearCache frees cached BLOCKS but not SHUFFLE FILES: those
      // live on disk until the ContextCleaner sees their
      // ShuffleDependency collected. Across a 128-query run at sf1
      // that residue fills the drive (observed: spill ENOSPC ~80
      // queries in). Opt-in because a full GC per query costs wall
      // time the sf0.01 driver run doesn't need.
      if (sys.env.get("GRAFT_VERIFY_GC").contains("1")) System.gc()
    }
    // dynamic oracles (corpus-trained artifacts embedded as SQL
    // literals — the BPE merge table) are generated against THIS
    // run's (session, sfDir); a generator failure downgrades that
    // query to the rows-only check instead of sinking the whole dump
    val dynamic = SparkEntry.oracleSqlDynamic.filter(o => queries.contains(o._1))
      .flatMap { case (k, gen) =>
        try Some(k -> gen(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] dynamic oracle $k failed: ${e.getMessage}")
          None
        }
      }
    val oracles = SparkEntry.oracleSql.filter(o => queries.contains(o._1)) ++ dynamic
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(oracles.map(kv => kv._1 -> q(kv._2))))
    Files.writeString(Paths.get(s"$outDir/_failures.json"), obj(failures.map(kv => kv._1 -> q(kv._2))))
    Files.writeString(Paths.get(s"$outDir/_timings.json"), obj(timings.map(kv => kv._1 -> f"${kv._2}%.3f")))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: query names — dev-loop filter (driver passes 2 args)
    val only = args.drop(2).toSet
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, sfDir, outDir, SparkEntry.queries.filter(q => only.isEmpty || only(q._1)))
    finally spark.stop()
  }
}
