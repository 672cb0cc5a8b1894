package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFs

/** Tuned SparkSession builders for the graft engine, split into two
  * profiles:
  *
  *  - [[cluster]] — settings that are correct on ANY deployment,
  *    including a 1000-executor cluster reading 100 TB: AQE (runtime
  *    re-planning, partition coalescing, skew-join splitting), UTC
  *    session time, parquet aggregate pushdown. Nothing here assumes
  *    single-JVM or small files; scan partition sizing is left at
  *    Spark's defaults (128 MB splits are right for real datasets).
  *    It also puts `file://` behind [[LocalFs]], for `FileSystem` and
  *    `FileContext` alike. Without a native Hadoop library the stock
  *    local file system forks `chmod` for every file and dir it creates
  *    and `readlink` for every `FileContext` rename, and a streaming
  *    epoch commits many small files (the offset and commit logs, the
  *    state store's deltas and their `.crc`s, the staged parquet
  *    delta). Measured with JFR `jdk.ProcessStart` on a
  *    4-core host, one traced 6-s perfbench `cdc` run (seed 7) started
  *    2,451 processes (1,381 `chmod`, 1,064 `readlink`), about 112 per
  *    live micro-batch, 82 of them on the state store; with `LocalFs`
  *    it starts 5, none per batch, and the median offset-log commit
  *    (`stream.wal_commit_ms_p50`) fell from 32-37 ms to 3.5-5 ms. Any
  *    other scheme (HDFS, object stores) is untouched.
  *  - [[benchLocal]] — the cluster profile PLUS single-JVM test-rig
  *    accommodations that would be wrong on a real cluster: tiny
  *    `maxPartitionBytes` so one-file parquet test tables still fan
  *    out across local cores, ICU case mapping off (ASCII-identical
  *    for the synthetic corpus; ICU's static init and per-char calls
  *    dominate small benchmarks), and the UI off.
  *
  * The harness mains (Verify, StreamBench, ScaleBench) build their
  * sessions with [[local]], and the perfbench runner builds its
  * `local[...]` session with [[benchLocal]].
  */
object Sessions {

  /** Deployment-agnostic configuration — safe and intended for a real
    * cluster. `shufflePartitions <= 0` leaves the default (on a
    * cluster, size to 2-3× total cores and let AQE coalesce). */
  def cluster(b: SparkSession.Builder, shufflePartitions: Int = 0): SparkSession.Builder = {
    val base = b
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // generated-class cache (static conf — takes effect only when set
      // before the first session): the default 100 entries thrashes on
      // a long-lived session running 100+ distinct query shapes — each
      // re-run then pays multi-second Janino recompiles of whole-stage
      // classes it compiled minutes ago. Entries are compiled classes
      // (small); 10k bounds memory while making the cache effective at
      // this engine's query-surface size.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // plan-string budget (r18): AQE rebuilds the FULL formatted plan
      // string on every stage update (AdaptiveSparkPlanExec
      // .onUpdatePlan → explainString) even with the UI off, and the
      // cost is O(plan size) per replan — measured here as minutes of
      // single-threaded driver time on deep operator chains (a
      // thread-dump of a chained-pipeline run sat in
      // StringConcat.toString). 64 KB keeps explain() useful for
      // debugging while bounding the per-replan driver tax; tooling
      // that needs the complete text (plan dumps, audits) raises the
      // conf per session — it is runtime-settable.
      .config("spark.sql.maxPlanStringLength", "65536")
    if (shufflePartitions > 0)
      base.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    else base
  }

  /** Local single-JVM profile for tests and benchmarks: cluster
    * settings + local fan-out/startup accommodations. */
  def benchLocal(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    cluster(b, shufflePartitions)
      // single-parquet-file tables must still fan out across cores:
      // with the 128m default, a 20 MB file is ONE partition and every
      // scan-heavy stage runs on one thread
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // JVM case mappings: Spark 4's ICU path (UTF8_BINARY upper/lower)
      // has a very expensive static init and per-char ICU calls; our
      // data is ASCII where JVM semantics are identical
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Standalone local session (tests / benchmarks). */
  def local(cores: Int = 32): SparkSession = {
    val s = benchLocal(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
