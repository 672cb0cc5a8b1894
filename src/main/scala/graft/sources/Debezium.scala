package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.ChangelogStream.ImagedChange

/** Debezium CDC-envelope decoder — the public-format bridge between a
  * real change-data-capture feed and this engine's canonical changelog
  * schema.
  *
  * The reference IS a MySQL binlog client (`src/dumpr/binlog.clj:1-60`
  * — BinaryLogClient lifecycle + listener wiring); this environment
  * has no database, so the engine seats live ingestion as
  * file/MemoryStream sources. What a production deployment actually
  * consumes, though, is almost never the raw binlog — it's Debezium's
  * JSON envelope on a Kafka topic, the de-facto public CDC wire format:
  *
  * {{{
  *   {"payload": {
  *      "before": {...}|null, "after": {...}|null,
  *      "source": {"name": "srv1", "db": "shop", "table": "orders",
  *                 "file": "mysql-bin.000003", "pos": 154,
  *                 "gtid": "uuid:17", "ts_ms": ...},
  *      "op": "c"|"u"|"d"|"r",       // create/update/delete/snapshot-read
  *      "ts_ms": ..., "transaction": {"id": ...}|null}}
  * }}}
  *
  * (with `schemas.enable=false` the payload arrives unwrapped at the
  * top level — both forms decode here; a Kafka *tombstone* — null
  * message value — and any unparseable line route to the DLQ frame,
  * the [[graft.cdc.RowFormat]] quarantine contract on the stream.)
  *
  * Everything is `from_json` + codegen'd column ops — stream-safe
  * (usable inside `readStream` transformations) and whole-stage
  * codegen'd; no UDFs, no driver-side parsing. At 100 TB/day of CDC
  * the decode is a map-only pass that fuses into whatever keyed fold
  * follows it.
  */
object Debezium {

  /** Debezium `source` block (the connector-agnostic core fields). */
  val sourceSchema: StructType = StructType(Seq(
    StructField("name", StringType),      // logical server name
    StructField("db", StringType),
    StructField("table", StringType),
    StructField("file", StringType),      // binlog file (MySQL)
    StructField("pos", LongType),         // byte offset in file
    StructField("gtid", StringType),      // "source_uuid:txno" (if GTID mode)
    StructField("ts_ms", LongType)))

  /** Full envelope for a given row schema (shared by before/after). */
  def envelopeSchema(row: StructType): StructType = StructType(Seq(
    StructField("before", row),
    StructField("after", row),
    StructField("source", sourceSchema),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("transaction", StructType(Seq(
      StructField("id", StringType),
      StructField("total_order", LongType))))))

  /** The canonical demo row (the fixture schema every sink here
    * speaks); real deployments pass their own `rowSchema`. */
  val canonicalRow: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("value", DoubleType)))

  /** Monotone single-long encoding of a (binlog-file, byte-pos)
    * position: `fileOrdinal << 40 | pos`. Binlog files are named with
    * a rotating numeric suffix (`mysql-bin.000003`) and are far
    * smaller than 2^40 bytes (1 TB; server cap is 1 GB), so the
    * encoding orders exactly like (file, pos) lexicographically —
    * giving the single-`pos` streaming operators
    * ([[graft.streaming.ChangelogStream.entityState]],
    * [[graft.streaming.UpsertSink]]) a correct total order across file
    * rotations. Null-safe: a missing file reads as ordinal 0. */
  def filePos(file: Column, pos: Column): Column =
    shiftleft(coalesce(
      regexp_extract(file, "(\\d+)$", 1).cast("long"), lit(0L)), 40)
      .bitwiseOR(coalesce(pos, lit(0L)))

  /** The single-parse schema behind `format="auto"`: the wrapped
    * form's only top-level key (`payload`) unioned with the flat
    * form's top-level fields. ONE `from_json` against this parses
    * either form — a wrapped line fills `payload` and leaves the flat
    * fields null, a flat line the reverse — and the branch pick
    * happens AFTER parsing, on the already-typed struct. */
  private def autoSchema(env: StructType): StructType =
    StructType(StructField("payload", env) +: env.fields)

  /** Pick the envelope out of an [[autoSchema]]-parsed struct:
    * `payload` when it carries an `op`, else the flat fields
    * reassembled. (A fully unparseable line yields a struct of nulls —
    * same NULL `op` the DLQ split keys on.) */
  private def autoEnv(parsed: Column, env: StructType): Column =
    when(parsed.getField("payload").getField("op").isNotNull,
        parsed.getField("payload"))
      .otherwise(struct(
        env.fields.toSeq.map(f => parsed.getField(f.name).as(f.name)): _*))

  /** Output column → the `source` field backing it. */
  private val outToSource = Seq(
    "src_name" -> "name", "db" -> "db", "tbl_name" -> "table",
    "file" -> "file", "pos" -> "pos", "gtid" -> "gtid")

  /** Decode a frame of raw Debezium JSON strings (`jsonCol`) into
    * typed envelope columns. Handles both the schema-wrapped and the
    * flat form in a SINGLE `from_json` pass (see [[autoSchema]]).
    * Output columns: `before`, `after`, `op`, `src_name`, `db`,
    * `tbl_name`, `file`, `pos`, `gtid`, `ts_ms`, `tx_id` + every input
    * column except `jsonCol`. Undecodable lines yield NULL `op` —
    * route them with [[decodeWithDlq]].
    *
    * `format`: "auto" (default) handles mixed feeds at one parse per
    * row via the merged [[autoSchema]]. A real connector's converter
    * mode is fixed configuration, so pinning "wrapped" or "flat"
    * parses against the exact single-form schema (rows of the other
    * form then land in the DLQ, which is the correct reading of a
    * misconfigured feed).
    *
    * `columns` (optional): SCHEMA-PRUNED decode — parse only the
    * envelope fields the listed output columns need. Entries are
    * output-column names (`op`, `tbl_name`, `ts_ms`, `tx_id`, …);
    * `before`/`after` may be narrowed to single row fields as
    * `before.id` / `after.value` (a bare `before` keeps the whole
    * row). `op` is always decoded — it is the DLQ routing key. The
    * win is Catalyst-invisible by construction ([[autoEnv]] keeps
    * the whole payload struct alive, so the built-in
    * OptimizeJsonExprs pruning can never fire here): Jackson still
    * tokenizes the full line, but skipped fields are never converted
    * or materialized — at CDC-firehose scale the decode is
    * tokenize + materialize, and this deletes the second term for
    * every column the consumer doesn't read. Empty = decode
    * everything (the default, and the oracle surface). */
  def decode(raw: DataFrame, rowSchema: StructType = canonicalRow,
             jsonCol: String = "value", format: String = "auto",
             columns: Seq[String] = Nil): DataFrame = {
    require(Set("auto", "wrapped", "flat")(format),
      s"Debezium.decode: format must be auto|wrapped|flat, got $format")
    // requested top-level outputs → (nested row fields or whole-struct)
    val knownOut = Set("before", "after", "op") ++ outToSource.map(_._1) ++
      Set("ts_ms", "tx_id")
    val want: Option[Map[String, Set[String]]] =
      if (columns.isEmpty) None
      else Some(columns.map { c =>
        val p = c.split("\\.", 2)
        require(knownOut(p(0)), s"Debezium.decode: unknown column '$c' " +
          s"(known: ${knownOut.toSeq.sorted.mkString(", ")})")
        p.lift(1).foreach { leaf =>
          require(Set("before", "after")(p(0)),
            s"Debezium.decode: only before/after take '.leaf' paths, got '$c'")
          require(rowSchema.fieldNames.contains(leaf),
            s"Debezium.decode: '$c' names no field of the row schema " +
              s"(${rowSchema.fieldNames.mkString(", ")})")
        }
        (p(0), p.lift(1))
      }
        .groupBy(_._1).map { case (k, vs) =>
          k -> (if (vs.exists(_._2.isEmpty)) Set.empty[String]
                else vs.flatMap(_._2).toSet)
        })
    def keep(out: String): Boolean = out == "op" || want.forall(_.contains(out))
    def rowFor(top: String): StructType = want.flatMap(_.get(top)) match {
      case Some(s) if s.nonEmpty => StructType(rowSchema.fields.filter(f => s(f.name)))
      case _ => rowSchema
    }
    // Default (columns = Nil) parses the FULL envelope — including
    // source.ts_ms, which no output column reads but whose malformed
    // values must still fail PERMISSIVE parsing into the DLQ exactly
    // as an unpruned decode would. Only an explicit `columns` list
    // narrows the source struct to the mapped fields it needs.
    val env = want match {
      case None => envelopeSchema(rowSchema)
      case Some(_) =>
        val srcFields = sourceSchema.fields.filter(f =>
          outToSource.exists { case (o, s) => s == f.name && keep(o) })
        StructType(
          (if (keep("before")) Seq(StructField("before", rowFor("before"))) else Nil) ++
          (if (keep("after")) Seq(StructField("after", rowFor("after"))) else Nil) ++
          (if (srcFields.nonEmpty)
            Seq(StructField("source", StructType(srcFields))) else Nil) ++
          Seq(StructField("op", StringType)) ++
          (if (keep("ts_ms")) Seq(StructField("ts_ms", LongType)) else Nil) ++
          (if (keep("tx_id")) Seq(StructField("transaction", StructType(Seq(
            StructField("id", StringType),
            StructField("total_order", LongType))))) else Nil))
    }
    val wrapped = StructType(Seq(StructField("payload", env)))
    val passThrough = raw.columns.filterNot(_ == jsonCol).map(col)
    val envCol = format match {
      case "wrapped" => from_json(col(jsonCol), wrapped).getField("payload")
      case "flat" => from_json(col(jsonCol), env)
      case _ => autoEnv(from_json(col(jsonCol), autoSchema(env)), env)
    }
    val outCols = Seq(
      "before" -> col("__env.before").as("before"),
      "after" -> col("__env.after").as("after"),
      "op" -> col("__env.op").as("op")) ++
      outToSource.map { case (o, s) => o -> col(s"__env.source.$s").as(o) } ++ Seq(
      "ts_ms" -> col("__env.ts_ms").as("ts_ms"),
      "tx_id" -> col("__env.transaction.id").as("tx_id"))
    raw
      .withColumn("__env", envCol)
      .select(passThrough :+ col("__env"): _*)
      .select(passThrough ++ outCols.collect { case (o, c) if keep(o) => c }: _*)
  }

  /** Single-parse ROUTED decode: [[decode]]'s typed columns plus the
    * original line preserved as `raw` — one `from_json` total, with
    * the good/DLQ routing decision (`op IS NULL`) made on the parsed
    * struct. A caller consuming BOTH splits of one batch should
    * persist THIS frame and filter it twice (the
    * [[graft.streaming.EventStreams.routeWithDlq]] pattern — that is
    * what makes the parse run once per batch, not once per sink);
    * [[decodeWithDlq]] is the unpersisted convenience split. */
  def decodeRouted(raw: DataFrame, rowSchema: StructType = canonicalRow,
                   jsonCol: String = "value", rawCol: String = "raw",
                   columns: Seq[String] = Nil): DataFrame = {
    require(!raw.columns.contains(rawCol) || jsonCol == rawCol,
      s"Debezium.decodeRouted: input already has a '$rawCol' column; " +
        "pass rawCol= a name the input doesn't use")
    val internal = freshName(raw.columns, "__graft_raw")
    decode(raw.withColumn(internal, col(jsonCol)), rowSchema, jsonCol,
      columns = columns)
      .withColumnRenamed(internal, rawCol)
  }

  /** `base`, suffixed with `_` until it collides with none of `cols` —
    * internal working columns never clobber caller data. */
  private def freshName(cols: Seq[String], base: String): String =
    Iterator.iterate(base)(_ + "_").dropWhile(cols.contains).next()

  /** [[decode]] split into (good, dlq): a line that parses to no `op`
    * (corrupt JSON, a Kafka tombstone's null value, a non-envelope
    * message) lands in the DLQ frame with the raw line preserved for
    * replay — the streaming twin of [[graft.cdc.RowFormat]]'s
    * normalize/quarantine split. Both frames are filters over ONE
    * [[decodeRouted]] projection (shared lineage, a single `from_json`
    * in either plan); a batch caller materializing both sides should
    * use [[decodeRouted]] + persist so the shared parse runs once. */
  def decodeWithDlq(raw: DataFrame, rowSchema: StructType = canonicalRow,
                    jsonCol: String = "value",
                    columns: Seq[String] = Nil): (DataFrame, DataFrame) = {
    // a passthrough column literally named 'raw' (≠ jsonCol) is
    // tolerated: route under a fresh name, keep the caller's column in
    // the good frame, and alias back to 'raw' in the one-column DLQ
    // projection (whose schema is the replay contract)
    val rc = freshName(raw.columns.filterNot(_ == jsonCol), "raw")
    val routed = decodeRouted(raw, rowSchema, jsonCol, rc, columns)
    (routed.filter(col("op").isNotNull).drop(rc),
      routed.filter(col("op").isNull).select(col(rc).as("raw")))
  }

  /** The `columns` pruning set for a [[decode]] whose only consumer
    * is [[toImagedChanges]] — the canonical-pipeline case: 7 leaf
    * fields out of the 13 the full envelope materializes. */
  val ImagedChangeColumns: Seq[String] =
    Seq("op", "tbl_name", "file", "pos", "before.id", "after.id", "after.value")

  /** Canonical-row envelope → [[ImagedChange]] stream: `c`/`r` (insert
    * / snapshot read) and `u` map to upserts/updates with both images
    * (a PK-changing update carries `before.id ≠ after.id` — exactly
    * [[graft.streaming.ChangelogStream.expandUpdates]]'s contract),
    * `d` to a delete keyed by the before-image. Positions encode via
    * [[filePos]] so downstream folds order correctly across binlog
    * file rotations. Compose:
    * `toImagedChanges(decode(raw)) |> expandUpdates |> entityState`
    * (or `UpsertSink.materialize`) — the full reference pipeline from
    * a public wire format, no broker required. */
  def toImagedChanges(decoded: DataFrame): Dataset[ImagedChange] = {
    import decoded.sparkSession.implicits._
    decoded.select(
      filePos(col("file"), col("pos")).as("pos"),
      when(col("op") === "d", lit("delete"))
        .when(col("op") === "u", lit("update"))
        .otherwise(lit("upsert")).as("op"),
      coalesce(col("tbl_name"), lit("?")).as("tbl"),
      coalesce(col("before.id"), col("after.id")).as("oldId"),
      coalesce(col("after.id"), col("before.id")).as("id"),
      coalesce(col("after.value"), lit(0.0)).as("value"))
      .as[ImagedChange]
  }
}
