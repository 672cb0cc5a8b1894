package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: query names — dev-loop filter (driver passes 2 args)
    val only = args.drop(2).toSet
    def keep(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.benchLocal(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // failures must be first-class artifacts, not stderr lines: a query
    // that throws writes <out>/<name>/_ERROR (parquet readers ignore
    // underscore files; an _ERROR-only dir fails the driver's read →
    // its per-query `err` field populates) and lands in _failures.json
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        new java.io.File(s"$outDir/$name").mkdirs()
        val head = (msg +: e.getStackTrace.take(8).map("  at " + _)).mkString("\n")
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), head + "\n")
      }
      // operators persist() intermediates (dedup groups/bands); release
      // them so cached partitions don't accumulate across the queries
      // (SparkEntry.queries.size of them — see SURVEY §2)
      spark.catalog.clearCache()
      // clearCache frees cached BLOCKS but not SHUFFLE FILES: those
      // live on disk until the ContextCleaner sees their
      // ShuffleDependency collected. Across a 128-query run at sf1
      // that residue fills the drive (observed: spill ENOSPC ~80
      // queries in). Opt-in because a full GC per query costs wall
      // time the sf0.01 driver run doesn't need.
      if (sys.env.get("GRAFT_VERIFY_GC").contains("1")) System.gc()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dynamic oracles (corpus-trained artifacts embedded as SQL
    // literals — the BPE merge table) are generated against THIS
    // run's (session, sfDir); a generator failure downgrades that
    // query to the rows-only check instead of sinking the whole dump
    val dynamic = SparkEntry.oracleSqlDynamic.filter(o => keep(o._1))
      .flatMap { case (k, gen) =>
        try Some(k -> gen(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] dynamic oracle $k failed: ${e.getMessage}")
          None
        }
      }
    val json = (SparkEntry.oracleSql.filter(o => keep(o._1)) ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
