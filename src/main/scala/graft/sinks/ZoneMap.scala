package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FileBridge
import org.apache.spark.sql.types._

/** Per-FILE min/max zone maps with a file-skipping reader (SURVEY §2
  * E14) — the storage-pruning layer BETWEEN directory partitioning
  * (E8: prunes by partition value) and row-group statistics (parquet
  * already prunes inside a file the scan opens): a range predicate on
  * a clustered column skips whole FILES without listing-time
  * partition structure, the zone-map idea (Moerkotte, "Small
  * Materialized Aggregates", VLDB'98) every lakehouse format ships
  * (Delta/Iceberg per-file stats).
  *
  * Why it matters at 100 TB: [[graft.operators.ZOrder]] clusters
  * multi-column locality into a 1-D sort, and THIS is the piece that
  * cashes that clustering in — after a z-ordered write, each file
  * covers a narrow hyper-rectangle, so most predicates eliminate most
  * files before any IO. Without a file-skipping reader the clustering
  * only improves compression.
  *
  * Manifest shape: one row per data file, (file, min_c, max_c per
  * stats column), written as parquet under `_zonemap/` (parquet
  * readers ignore underscore-prefixed dirs, same convention as
  * `_SUCCESS` and UpsertSink's `_CURRENT`). The manifest is
  * FILE-count-sized, not data-sized — and since r9 it is DERIVED from
  * the parquet FOOTERS the write just produced (chunk-level min/max
  * statistics, combined across row groups), not from a second scan of
  * the data: at 100 TB a post-write re-read would double the write
  * cost, while footers are a metadata read per file. The driver-side
  * prune mirrors how Delta/Iceberg readers replay per-file stats; at
  * extreme file counts the same manifest is itself a frame and the
  * prune becomes a join, but the contract (skip iff
  * `[min, max] ∩ [lo, hi] = ∅` — never a false skip) is unchanged.
  *
  * NULL semantics: min/max ignore NULLs, so a file of only-NULL cells
  * carries NULL bounds and is conservatively KEPT (a range predicate
  * drops its rows after the scan — correct, just unpruned). A footer
  * whose statistics are missing or unreadable for a column likewise
  * degrades to NULL bounds — unknown is never treated as skippable. */
object ZoneMap {

  /** Manifest subdirectory name under a data path. */
  val manifestDir = "_zonemap"

  /** Types whose parquet chunk statistics we can map back to Spark
    * values. Binary (string) stats compare in unsigned lexicographic
    * byte order — the SAME order Spark's UTF8String min/max uses, so
    * footer bounds and scan bounds agree. Float/Double are EXCLUDED:
    * parquet statistics ignore NaN while Spark orders NaN greater
    * than every value, so a file whose NaN rows hide behind a finite
    * footer max could be falsely skipped by a range whose hi bound is
    * NaN — those columns take the aggregate-scan path, where Spark's
    * own max() surfaces NaN and the no-false-skip contract holds.
    * Anything else (decimal, timestamp variants, nested) likewise
    * falls back to the aggregate scan. */
  private def footerSupported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType |
         StringType | BooleanType | DateType => true
    case _ => false
  }

  /** Write `df` as parquet under `path` plus a `_zonemap/` manifest
    * of per-file min/max for `statsCols`. Pair with a range
    * repartition + sort on the stats column(s) (or a z-order key)
    * before calling — zone maps only skip what the layout clusters.
    * The manifest costs one footer read per written file (no second
    * pass over the data) for supported stats types. */
  def write(df: DataFrame, path: String, statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "ZoneMap.write: no stats columns")
    val fields = statsCols.map(c => df.schema(c))
    df.write.mode("overwrite").parquet(path)
    writeManifest(df.sparkSession, path, fields)
  }

  /** (Re)build the `_zonemap/` manifest for the parquet files under
    * `path` (recursively, skipping `_`/`.`-prefixed entries). Public
    * so incremental sinks can refresh zone maps for just-written
    * version directories ([[graft.streaming.UpsertSink.mergeBatch]]).
    * Footer-derived for supported types; falls back to ONE aggregate
    * scan when any stats type has no footer mapping. */
  def writeManifest(spark: SparkSession, path: String,
                    fields: Seq[StructField]): Unit = {
    require(fields.nonEmpty, "ZoneMap.writeManifest: no stats columns")
    val schema = StructType(StructField("file", StringType, nullable = false) +:
      fields.flatMap(f => Seq(
        StructField(s"min_${f.name}", f.dataType),
        StructField(s"max_${f.name}", f.dataType))))
    val rows: java.util.List[Row] =
      if (fields.forall(f => footerSupported(f.dataType))) {
        val conf = spark.sessionState.newHadoopConf()
        val files = listDataFiles(conf, path)
        // footer reads are independent metadata IOs — overlap them
        // (driver-side pool; at extreme file counts promote the
        // manifest build itself to a job over the file list)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, math.max(1, files.size)))
        try {
          files.map(st => pool.submit(new java.util.concurrent.Callable[Row] {
              override def call(): Row = footerStatsRow(conf, st, fields)
            }))
            .map(_.get()).asJava
        } finally pool.shutdown()
      } else {
        scanStatsRows(spark, path, fields).asJava
      }
    spark.createDataFrame(rows, schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$manifestDir")
  }

  /** All parquet data files under `base`, recursing past bucket/
    * partition subdirectories but never into `_`/`.`-prefixed entries
    * (`_zonemap`, `_SUCCESS`, hidden files). */
  private def listDataFiles(conf: Configuration, base: String): Seq[FileStatus] = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(conf)
    // partition-style `col=value` dirs stay visible even when the
    // column name is underscore-prefixed (UpsertSink's `__bucket=N`);
    // Spark's own scans read those too
    def visible(name: String): Boolean =
      name.contains("=") || !(name.startsWith("_") || name.startsWith("."))
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filter(st => visible(st.getPath.getName)).flatMap {
        case st if st.isDirectory => walk(st.getPath)
        case st if st.getLen > 0 => Seq(st)
        case _ => Nil
      }
    walk(basePath)
  }

  /** One manifest row from a file's parquet footer: per stats column,
    * min/max combined across row-group chunk statistics with the
    * column's own parquet comparator (so e.g. binary compares
    * unsigned-lexicographic). A chunk with values but no usable
    * statistics poisons the column to NULL bounds (kept, never
    * falsely skipped); an all-null chunk legitimately contributes
    * nothing. */
  private def footerStatsRow(conf: Configuration, status: FileStatus,
                             fields: Seq[StructField]): Row = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val vals = fields.flatMap { f =>
        var mn: AnyRef = null
        var mx: AnyRef = null
        var cmp: java.util.Comparator[AnyRef] = null
        var unknown = false
        for {
          b <- blocks
          ch <- b.getColumns.asScala if ch.getPath.toDotString == f.name
        } {
          val st = ch.getStatistics
          if (st == null || st.isEmpty) {
            if (ch.getValueCount > 0) unknown = true
          } else if (st.hasNonNullValue) {
            if (cmp == null)
              cmp = st.comparator().asInstanceOf[java.util.Comparator[AnyRef]]
            val lo = st.genericGetMin.asInstanceOf[AnyRef]
            val hi = st.genericGetMax.asInstanceOf[AnyRef]
            if (mn == null || cmp.compare(lo, mn) < 0) mn = lo
            if (mx == null || cmp.compare(hi, mx) > 0) mx = hi
          } else if (!(st.isNumNullsSet && st.getNumNulls == ch.getValueCount)) {
            // not provably all-null and no min/max — treat as unknown
            unknown = true
          }
        }
        if (unknown) Seq(null, null)
        else Seq(toSparkValue(mn, f.dataType), toSparkValue(mx, f.dataType))
      }
      Row.fromSeq(status.getPath.toString +: vals)
    } finally reader.close()
  }

  /** Parquet statistics value → the external Spark value the manifest
    * column's type expects. */
  private def toSparkValue(v: AnyRef, dt: DataType): Any = v match {
    case null => null
    case b: Binary => dt match {
      case StringType => b.toStringUsingUTF8
      case _ => null
    }
    case n: java.lang.Integer => dt match {
      case IntegerType => n
      case ShortType => java.lang.Short.valueOf(n.shortValue())
      case ByteType => java.lang.Byte.valueOf(n.byteValue())
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue()))
      case _ => null
    }
    case other => other // Long / Boolean map 1:1 (Float/Double are
    // excluded from footerSupported — NaN-blind footer stats — and
    // never reach this path)
  }

  /** Fallback manifest rows via one aggregate scan (unsupported stats
    * types only — e.g. decimal). */
  private def scanStatsRows(spark: SparkSession, path: String,
                            fields: Seq[StructField]): Seq[Row] = {
    val aggs = fields.flatMap(f =>
      Seq(min(col(f.name)).as(s"min_${f.name}"), max(col(f.name)).as(s"max_${f.name}")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
  }

  /** The column names of the manifest under `zonemapDir`, read from
    * its parquet footer on the driver (no schema-inference job); empty
    * if it holds no file. */
  def manifestColumns(spark: SparkSession, zonemapDir: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    listDataFiles(conf, zonemapDir).headOption
      .fold(Set.empty[String])(footerSchema(spark, conf, _).fieldNames.toSet)
  }

  /** A parquet file's schema, from its footer. */
  private def footerSchema(spark: SparkSession, conf: Configuration, st: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  /** The files whose `[min, max]` window on `statsCol` intersects
    * `[lo, hi]` (NULL bounds kept — see NULL semantics above). */
  def candidateFiles(spark: SparkSession, path: String, statsCol: String,
                     lo: Column, hi: Column): Seq[String] =
    candidateFilesAt(spark, s"$path/$manifestDir", statsCol, lo, hi)

  /** Same, addressing the `_zonemap` directory itself — for layouts
    * where the manifest does not sit directly under the data path
    * (versioned sink directories). The one-file manifest is listed on
    * the driver and scanned with its footer's schema: one Spark job,
    * no schema inference. */
  def candidateFilesAt(spark: SparkSession, zonemapDir: String, statsCol: String,
                       lo: Column, hi: Column): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = listDataFiles(conf, zonemapDir)
    require(files.nonEmpty, s"no zone map under $zonemapDir")
    FileBridge.parquet(spark, files, footerSchema(spark, conf, files.head))
      .filter(col(s"max_$statsCol").isNull || col(s"min_$statsCol").isNull ||
        !(col(s"max_$statsCol") < lo || col(s"min_$statsCol") > hi))
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq
  }

  /** Read rows with `statsCol ∈ [lo, hi]`, scanning ONLY files whose
    * zone intersects the range — result-identical to the full scan
    * plus filter (no false skips by construction; the residual filter
    * drops in-file non-matches). An empty candidate set returns an
    * empty frame with the table's schema. */
  def readRange(spark: SparkSession, path: String, statsCol: String,
                lo: Column, hi: Column): DataFrame = {
    val files = candidateFiles(spark, path, statsCol, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }
}
