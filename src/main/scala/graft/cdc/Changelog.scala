package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Spark-native changelog (CDC) operators.
  *
  * The reference engine (sharetribe/dumpr) exposes a MySQL database as an
  * ordered stream of row tuples `[op-type table id content meta]`
  * (reference `src/dumpr/row_format.clj:1-25`) produced by a transducer
  * chain over binlog events (`src/dumpr/stream.clj:296-304`):
  * tx filtering, binlog-filename attach, table filtering, schema attach,
  * and finally a fold into current entity state (the reference's own
  * correctness oracle, `test/dumpr/test_util.clj` `into-entity-map`).
  *
  * Here the same semantics are re-expressed as declarative DataFrame
  * transforms over any frame with the canonical changelog columns
  * `(pos: long, op: string, tbl: string, id: long, tx: long, ...)`:
  *
  *  - the log itself only ever flows through Catalyst plans; the only
  *    shuffle in the whole pipeline is the hash partition by
  *    `(tbl, id)` for the entity-state fold;
  *  - a control relation bounded by the binlog-file or ALTER count
  *    (rotate events, schema versions) is collected once on the driver
  *    when the plan is built and shipped to the tasks, so it costs no
  *    join and no job of its own; one that grows with the log (the
  *    rolled-back tx ids) stays a broadcast anti-join;
  *  - at 100 TB the log is a partitioned fact; all of these transforms
  *    scale linearly with it.
  *
  * The test environment has no MySQL, so [[fromEvents]] derives a
  * deterministic synthetic changelog from the driver-provided `events`
  * table; the operator implementations are generic over the canonical
  * columns.
  */
object Changelog {

  /** Binlog file-name prefix: a rotate to file id `n` names the file
    * `bin.` + `n` zero-padded to six digits; [[DefaultFile]] holds the
    * events before the first rotate. */
  val RotatePrefix = "bin."
  val DefaultFile: String = RotatePrefix + "000000"

  /** Deterministic synthetic changelog from the `events` table.
    *
    * Mirrors the reference's event parsing (`src/dumpr/events.clj`):
    * each raw binlog event becomes `(pos, op, tbl, id, tx, val, us)`.
    *  - `pos`: binlog offset (event_id)
    *  - `op` : 'delete' for `click` events, else 'upsert'
    *  - `tbl`: routing to a target table (even ids → customer)
    *  - `tx` : 5 events per transaction (`pos div 5`)
    *  - rotate markers: `signup` events carry a new binlog filename
    *  - rollback markers: a tx containing an `error` event rolls back
    */
  def fromEvents(events: DataFrame): DataFrame =
    graft.Tables.normalizeTs(events).select(
      col("event_id").as("pos"),
      when(col("event_type") === "click", lit("delete")).otherwise(lit("upsert")).as("op"),
      when(col("user_id") % 2 === 0, lit("customer")).otherwise(lit("orders")).as("tbl"),
      col("user_id").as("id"),
      expr("event_id div 5").as("tx"),
      col("value").as("val"),
      expr("ts div 1000").as("us"),
      col("event_type").as("etype")
    )

  /** Drop events belonging to rolled-back transactions.
    *
    * Reference: the `filter-txs` stateful transducer
    * (`src/dumpr/stream.clj:22-54`) buffers each tx and releases it on
    * commit / drops it on rollback. Declaratively that is an anti-join
    * of the log against the (tiny) set of rolled-back tx ids — Spark
    * broadcasts the set, so the log is never shuffled.
    */
  def filterCommitted(log: DataFrame): DataFrame = {
    val rolledBack = log.filter(col("etype") === "error").select(col("tx")).distinct()
    log.join(broadcast(rolledBack), Seq("tx"), "left_anti")
  }

  /** Attach the current binlog filename to every event and drop the
    * rotate markers themselves.
    *
    * Reference: `add-binlog-filename` (`src/dumpr/stream.clj:56-77`)
    * tracks the filename from rotate events serially. The rotates are
    * a control relation (one per binlog file), so they are collected
    * once, in one job, when this plan is built, sorted by position and
    * shipped to the tasks as a broadcast variable (no job). Each event
    * then takes the file of the last rotate at or before its position
    * by binary search — the serial fold's answer, O(log R) per row for
    * R rotates, map-only, for dense event ids and sparse 64-bit byte
    * offsets alike. Events before the first rotate get [[DefaultFile]].
    * Rotates tied at one position resolve to the greatest file name.
    */
  def attachFile(log: DataFrame): DataFrame = {
    val rotates = log.filter(col("etype") === "signup")
      .select(col("pos"), rotateFile(col("id"))).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val starts = log.sparkSession.sparkContext.broadcast((rotates.map(_._1), rotates.map(_._2)))
    val fileAt = udf { (pos: Long) =>
      val (at, files) = starts.value
      var lo = 0 // → the index of the first start > pos
      var hi = at.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (at(mid) <= pos) lo = mid + 1 else hi = mid
      }
      if (lo == 0) DefaultFile else files(lo - 1)
    }
    log.filter(col("etype") =!= "signup").withColumn("file", fileAt(col("pos")))
  }

  private def rotateFile(id: Column): Column =
    concat(lit(RotatePrefix), lpad(id.cast("string"), 6, "0"))

  /** Keep only ops for the given tables.
    * Reference: `filter-tables` / `filter-database`
    * (`src/dumpr/stream.clj:108-123`); empty set degenerates to
    * allow-all exactly like the reference.
    */
  def filterTables(log: DataFrame, tables: Set[String]): DataFrame =
    if (tables.isEmpty) log else log.filter(col("tbl").isin(tables.toSeq: _*))

  /** Keep only events of one database — `filter-database`
    * (`src/dumpr/stream.clj:108-112`); rows without db info drop, as
    * in the reference. */
  def filterDatabase(log: DataFrame, db: String): DataFrame =
    log.filter(col("db") === db)

  /** Classify raw QUERY-event SQL text into canonical transaction /
    * schema markers — `query-parser` (`src/dumpr/events.clj:81-89`):
    * a binlog in STATEMENT-assisted row mode interleaves row events
    * with QUERY events whose payload is the literal SQL string, and
    * the tx boundaries (`BEGIN` / `COMMIT` / `ROLLBACK`) plus schema
    * changes (`ALTER TABLE`) arrive ONLY that way. Anchored
    * case-insensitive prefix match, exactly the reference's
    * `(condp re-find (.toUpperCase sql))`; statements matching no
    * marker (INSERT/SELECT/…) are dropped, like the reference's `nil`
    * branch skipping the event. Map-only — classification is a
    * codegen'd regex per row, no shuffle at any log size. Returns the
    * input columns minus `sqlCol`, plus `kind`. */
  def classifyStatements(stmts: DataFrame, sqlCol: String = "sql"): DataFrame = {
    val u = upper(col(sqlCol))
    stmts
      .withColumn("kind",
        when(u.rlike("^BEGIN"), "tx_begin")
          .when(u.rlike("^ROLLBACK"), "tx_rollback")
          .when(u.rlike("^COMMIT"), "tx_commit")
          .when(u.rlike("^ALTER TABLE"), "alter_table"))
      .filter(col("kind").isNotNull)
      .drop(sqlCol)
  }

  /** Pair each row mutation with the table-map metadata event that
    * announced its (db, table) — `group-table-maps`
    * (`src/dumpr/stream.clj:76-97`): a table-map event is delayed and
    * its (db, tbl) attaches to the write/update/delete events that
    * follow it; other events pass through alone; the table-map rows
    * themselves are removed. A real binlog source needs this because
    * row events don't carry table names.
    *
    * Scale shape: unlike rotates or ALTERs, table maps are NOT rare —
    * MySQL emits one per statement — so no broadcast trick applies.
    * The pairing is inherently sequential WITHIN a binlog file, and
    * binlog files are bounded (`max_binlog_size`, 1 GB default), so
    * the window partitions by `file`: per-file passes run in parallel
    * across the cluster and no partition exceeds one file's events.
    *
    * `raw`: (file, pos, kind, db, tbl, …) with db/tbl set only on
    * `kind = 'table_map'` rows. Mutations before any table map in
    * their file flow with NULL db/tbl (DLQ-routable, like the
    * reference's `::none` sentinel pair). */
  def groupTableMaps(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("file")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val isMut = col("kind").isin("write", "update", "delete")
    raw
      .withColumn("tm",
        last(when(col("kind") === "table_map", struct(col("db"), col("tbl"))),
          ignoreNulls = true).over(w))
      .filter(col("kind") =!= "table_map")
      .withColumn("db", when(isMut, col("tm.db")))
      .withColumn("tbl", when(isMut, col("tm.tbl")))
      .drop("tm")
  }

  /** Last op per key — `row_number() = 1` over `pos desc`, then `img
    * desc` when the log carries [[expandUpdateImages]]'s sub-order, then
    * `op desc`. At one binlog position the before-image tombstone (img
    * 0) applies before the after-image upsert (img 1), and without
    * `img` the upsert ("upsert" > "delete") still wins the tie — the
    * delete-before-upsert order of a PK swap inside one multi-row
    * UPDATE, matching [[graft.streaming.ChangelogStream.Entity.fold]].
    * Shared by the batch folds here and the live views' merges. */
  private[graft] def lastOpPerKey(log: DataFrame, keys: String*): DataFrame = {
    val ord = Seq(col("pos").desc) ++
      (if (log.columns.contains("img")) Seq(col("img").desc) else Nil) :+ col("op").desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Expand update events carrying BEFORE/AFTER row images into
    * primitive upsert/delete ops.
    *
    * A binlog UPDATE row event carries (before, after) image PAIRS per
    * row (`UpdateRowsEventData.getRows`). The reference's
    * `update-parser` keeps only the after image (destructuring `[_ v]`,
    * `src/dumpr/events.clj:99-101`) and `->row-format` derives the row
    * id from that single image (`src/dumpr/stream.clj:236-245`) — so an
    * UPDATE that CHANGES the primary key leaves the old key's entity
    * alive in every downstream fold. Carrying both images closes that:
    * a PK-changing update becomes a tombstone of the before-image key
    * plus an upsert of the after-image key, atomically at the same
    * position; a PK-stable update stays a single upsert.
    *
    * Input: canonical changelog where `op = 'update'` rows also carry
    * `old_id` (the before-image id; `id` is the after-image id).
    * Output: op ∈ {upsert, delete} plus an `img` sub-order column
    * (0 = before-image tombstone, 1 = after-image upsert) which
    * [[entityState]]'s fold uses to order images within one position.
    *
    * ONE pass over the log: each row explodes into its 1-2 primitive
    * images (a generate, no shuffle). A union of three filtered
    * branches would read the log — 100 TB of it — three times;
    * plan-asserted in PlanAuditSpec. */
  def expandUpdateImages(log: DataFrame): DataFrame = {
    require(log.columns.contains("old_id"),
      "expandUpdateImages: log must carry old_id (the before-image id) on update rows")
    val valType = log.schema("val").dataType
    def img(op: Column, id: Column, v: Column, ord: Int) =
      struct(op.as("op"), id.as("id"), v.as("val"), lit(ord).as("img"))
    val images =
      when(col("op") === "update" && col("old_id") =!= col("id"),
        array(
          img(lit("delete"), col("old_id"), lit(null).cast(valType), 0),
          img(lit("upsert"), col("id"), col("val"), 1)))
      .when(col("op") === "update",
        array(img(lit("upsert"), col("id"), col("val"), 1)))
      .otherwise(array(img(col("op"), col("id"), col("val"), 1)))
    log.withColumn("__img", explode(images))
      .withColumn("op", col("__img.op"))
      .withColumn("id", col("__img.id"))
      .withColumn("val", col("__img.val"))
      .withColumn("img", col("__img.img"))
      .drop("__img", "old_id")
  }

  /** Fold the op stream into current entity state: later ops win,
    * deletes drop the row. Reference: `into-entity-map`
    * (`test/dumpr/test_util.clj:104-123`) — the reference's own
    * correctness oracle for both load and streaming.
    *
    * One hash shuffle by (tbl, id); the per-key window never sees more
    * than one key's rows, so it spills safely and AQE can split skew.
    */
  def entityState(log: DataFrame): DataFrame =
    lastOpPerKey(log, "tbl", "id")
      .filter(col("op") === "upsert")
      .select(col("tbl"), col("id"), col("val"), col("pos").as("last_pos"))

  /** Kafka-style log compaction: the shortest changelog that still
    * replays to the same state — exactly one op (the latest) per
    * (tbl, id), with DELETE TOMBSTONES RETAINED. This is a different
    * contract from [[entityState]], which produces the state itself
    * and drops deletes: a consumer that seeded its copy from an OLDER
    * compacted segment needs the tombstone to evict its stale row,
    * which the state alone cannot express. Original positions are
    * kept, so the output is itself a valid changelog (replay order,
    * resume tokens, [[entityStateAt]] cuts all still work) and
    * compaction is idempotent: compact ∘ compact = compact.
    * One key-hash exchange (the lastOpPerKey window); rows only ever
    * shrink. */
  def logCompact(log: DataFrame): DataFrame =
    lastOpPerKey(log, "tbl", "id")
      .select(col("pos"), col("op"), col("tbl"), col("id"), col("val"))

  /** Entity state AS OF a position: the fold replayed only over ops
    * with `pos <= atPos` — point-in-time recovery / debugging of a
    * live view ("what did the table look like when the resume token
    * was X"). The position predicate lands on the scan (parquet
    * min/max pruning skips whole files of later log segments), then
    * it is the same single-shuffle fold as [[entityState]]. */
  def entityStateAt(log: DataFrame, atPos: Long): DataFrame =
    entityState(log.filter(col("pos") <= atPos))

  /** The binlog position to continue streaming from, as a 1-row frame
    * `(file, next_pos)`. Reference: `next-position`
    * (`src/dumpr/core.clj:107-113`) and the `:next-position` metadata.
    * One global aggregate: the file of the rotate at the greatest
    * position (`max_by` over rotate positions only; [[DefaultFile]]
    * without one) beside `max(pos) + 1` (NULL on an empty log).
    */
  def nextPosition(log: DataFrame): DataFrame =
    log.agg(
      coalesce(max_by(rotateFile(col("id")), when(col("etype") === "signup", col("pos"))),
        lit(DefaultFile)).as("file"),
      (max(col("pos")) + 1).as("next_pos"))

  /** Initial table load: wrap a snapshot table scan in the row-tuple
    * shape `[op tbl id content]`. Reference: `create-table-stream` /
    * `stream-table` (`src/dumpr/query.clj:44-66`) — every snapshot row
    * is an upsert with `meta = nil`. `idCol` plays the reference's
    * `id-fn` role (primary key by default, caller-overridable).
    */
  def snapshotLoad(table: DataFrame, tableName: String, idCol: String): DataFrame =
    table.select(
      lit("upsert").as("op") +:
        lit(tableName).as("tbl") +:
        col(idCol).as("id") +:
        table.columns.filter(_ != idCol).map(col): _*
    )

  /** Fan a multi-row mutation event out to per-row tuples. A query
    * like `UPDATE … WHERE id <= n` arrives as ONE binlog event
    * carrying n rows; the reference's `convert-with-schema` returns
    * one row tuple per contained row (`stream.clj:243-268`, asserted
    * by `core_test.clj` `streaming-multirow-updates`). Declaratively:
    * posexplode of the rows array — `(pos, row_idx)` totally orders
    * the per-row tuples, and each keeps the parent event's metadata.
    * Pure map-side (generate), no shuffle. */
  def fanOutRows(events: DataFrame, rowsCol: String = "rows"): DataFrame =
    events
      .select(col("*"), posexplode(col(rowsCol)).as(Seq("row_idx", "vals")))
      .drop(rowsCol)

  /** One table of a multi-table snapshot load: the reference's
    * `TableSpec` (`table_schema.clj:22-25`) — table plus optional id
    * override (`id-fn`, used when the PK isn't a single column or the
    * caller wants a constructed id; `core.clj:60-66`). `contentCols`
    * picks the row-content rendering for the generic output. */
  case class TableLoad(df: DataFrame, name: String, idCol: String,
                       contentCols: Seq[String], idFn: Option[Column] = None)

  /** Multi-table ordered snapshot load — `create-table-stream`
    * (`core.clj:81-103`): "Loading happens in the order that tables
    * were given. Results are returned strictly in the order that
    * tables were given." A DataFrame is unordered by nature, so the
    * caller order is materialized as a `load_order` column (total
    * order = (load_order, tbl, id)); each table's rows wrap as upsert
    * tuples with its own id-fn, exactly like [[snapshotLoad]].
    *
    * Scale: per-table scans stay independent (a union of narrow
    * projections — no shuffle at all); heterogeneous schemas are
    * normalized into a rendered `content` column, the generic-output
    * analogue of the reference's row map. */
  def snapshotLoadAll(tables: Seq[TableLoad]): DataFrame = {
    require(tables.nonEmpty, "snapshotLoadAll needs at least one table")
    tables.zipWithIndex.map { case (t, i) =>
      t.df.select(
        lit(i).as("load_order"),
        lit("upsert").as("op"),
        lit(t.name).as("tbl"),
        t.idFn.getOrElse(col(t.idCol)).as("id"),
        concat_ws("|", t.contentCols.map(c => col(c).cast("string")): _*).as("content"))
    }.reduce(_ unionByName _)
  }

  /** Available binlog files with their sizes — the `SHOW BINARY LOGS`
    * analogue (`query.clj:27-30`), derived from the changelog itself:
    * a file's extent is bounded by its rotate and the events attached
    * to it (file_size = max contained position + 1). */
  def binlogPositions(log: DataFrame): DataFrame = {
    val fromEvents = attachFile(log)
      .groupBy(col("file")).agg((max(col("pos")) + 1).as("file_size"))
    val fromRotates = log.filter(col("etype") === "signup")
      .select(rotateFile(col("id")).as("file"), (col("pos") + 1).as("file_size"))
    fromEvents.unionByName(fromRotates)
      .groupBy(col("file")).agg(max(col("file_size")).as("file_size"))
  }

  /** Resume-token validation — `valid-binlog-pos?`
    * (`core.clj:113-131`): a `(file, pos)` token is valid iff the file
    * is still available and `pos <= file_size`. Same caveat as the
    * reference: a position in the middle of an event can't be detected,
    * but tokens produced by the lib ([[nextPosition]], the per-row
    * metadata) never are. Returns tokens flagged `valid` 0/1; the
    * `positions` frame is tiny (one row per binlog file) → broadcast. */
  def validatePositions(positions: DataFrame, tokens: DataFrame): DataFrame =
    tokens.join(broadcast(positions), Seq("file"), "left")
      .select(col("file"), col("pos"),
        when(col("file_size").isNotNull && col("pos") <= col("file_size"), lit(1))
          .otherwise(lit(0)).as("valid"))

  /** GTID executed-set summary: one row per replication source —
    * `(source_uuid, txno_lo, txno_hi)` from a `gtid` column of
    * `"source_uuid:txno"` strings (the shape
    * [[graft.sources.Debezium.decode]] lands). The GTID counterpart
    * of [[binlogPositions]]: modern MySQL resumes by GTID set, not
    * (file, pos) — reference analogue `valid-binlog-pos?` /
    * `binlog-position` (`src/dumpr/core.clj:113-148`), re-keyed by
    * transaction id. `txno_lo` models the purge horizon (binlogs
    * holding earlier txs are gone); `txno_hi` the executed watermark.
    * Control-sized output (one row per source server). */
  def gtidExecuted(log: DataFrame, gtidCol: String = "gtid"): DataFrame =
    log.filter(col(gtidCol).isNotNull)
      .select(substring_index(col(gtidCol), ":", 1).as("source_uuid"),
        substring_index(col(gtidCol), ":", -1).cast("long").as("txno"))
      .groupBy(col("source_uuid"))
      .agg(min(col("txno")).as("txno_lo"), max(col("txno")).as("txno_hi"))

  /** The GTID resume token to continue from, per source:
    * `(source_uuid, next_txno = executed max + 1)` — the GTID-mode
    * [[nextPosition]]. */
  def gtidNextPosition(log: DataFrame, gtidCol: String = "gtid"): DataFrame =
    gtidExecuted(log, gtidCol)
      .select(col("source_uuid"), (col("txno_hi") + 1).as("next_txno"))

  /** GTID resume-token validation — the GTID-mode
    * [[validatePositions]]: a `(source_uuid, txno)` token is valid iff
    * the source is known and `txno` lies in the still-replayable
    * window `[txno_lo, txno_hi + 1]` — below the purge horizon the
    * binlogs are gone, above the watermark the server never executed
    * it. `executed` ([[gtidExecuted]]) is one row per source →
    * broadcast; tokens flagged `valid` 0/1 like the reference's
    * boolean (`core.clj:113-131`). */
  def validateGtids(executed: DataFrame, tokens: DataFrame): DataFrame =
    tokens.join(broadcast(executed), Seq("source_uuid"), "left")
      .select(col("source_uuid"), col("txno"),
        when(col("txno_hi").isNotNull &&
          col("txno") >= col("txno_lo") && col("txno") <= col("txno_hi") + 1, lit(1))
          .otherwise(lit(0)).as("valid"))

  /** Snapshot ⊎ changelog ⇒ current table state (the flagship op).
    *
    * This is the reference's end-to-end contract: initial load plus
    * binlog continuation must equal the entity map of the full history
    * (`test/dumpr/core_test.clj` `streaming` test). Implementation:
    * last committed op per id (one shuffle), full outer join against
    * the snapshot on id, log wins, final deletes drop snapshot rows.
    */
  def applyChangelog(snapshot: DataFrame, log: DataFrame, table: String): DataFrame = {
    val lastOps = lastOpPerKey(filterTables(filterCommitted(log), Set(table)), "tbl", "id")
      .select(col("id").as("l_id"), col("op"), col("val").as("l_val"))
    snapshot
      .select(col("id").as("s_id"), col("val").as("s_val"))
      .join(lastOps, col("s_id") === col("l_id"), "full_outer")
      .filter(coalesce(col("op"), lit("upsert")) === "upsert")
      .select(
        coalesce(col("l_id"), col("s_id")).as("id"),
        when(col("l_id").isNotNull, col("l_val")).otherwise(col("s_val")).as("val"),
        when(col("l_id").isNotNull, lit("log")).otherwise(lit("snapshot")).as("src")
      )
  }

  /** Slowly-changing-dimension TYPE-2 history: every (tbl, id) becomes
    * a sequence of non-overlapping versions `[valid_from, valid_to)`
    * with the value that held over that interval — the warehouse shape
    * every CDC consumer eventually materializes ("what did this row
    * say WHEN the order shipped", joinable with [[graft.operators.AsOf]]).
    * [[entityState]] keeps only the latest row; SCD2 keeps them all,
    * change-detected:
    *
    *  - an upsert OPENS a version only if it changes the value (a
    *    no-op upsert — same `val` as the live version — extends the
    *    current version instead of splitting it; null-safe compare);
    *  - a delete CLOSES the live version (its pos becomes `valid_to`)
    *    and emits no row; repeated deletes are no-ops;
    *  - the last open version per key has `valid_to` NULL and
    *    `is_current` 1.
    *
    * Plan shape: both windows (the change-point `lag`, then the
    * version-closing `lead` over change points only) run over the SAME
    * `(tbl, id) ORDER BY pos` partitioning, so the whole operator is
    * ONE key-hash exchange + one sort — identical cost to the
    * [[entityState]] fold it generalizes. Input: a primitive-op log
    * (run [[expandUpdateImages]] first if updates carry images). */
  def scd2(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl"), col("id")).orderBy(col("pos"))
    val withPrev = log
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("prev_val", lag(col("val"), 1).over(w))
    // change points: upserts that alter the value (vs the surviving
    // predecessor) and deletes that close a live version
    val changes = withPrev.filter(
      (col("op") === "upsert" &&
        (col("prev_op").isNull || col("prev_op") === "delete" ||
          !(col("val") <=> col("prev_val")))) ||
      (col("op") === "delete" && col("prev_op") === "upsert"))
    changes
      .withColumn("valid_to", lead(col("pos"), 1).over(w))
      .filter(col("op") === "upsert")
      .select(col("tbl"), col("id"), col("val"),
        col("pos").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, lit(1)).otherwise(lit(0)).as("is_current"))
  }

  /** Erasure plan (SURVEY §2 A30) — the "right to be forgotten"
    * sweep every CDC deployment eventually owes its compliance team:
    * given the set of subject ids, emit the changelog segment that
    * removes EVERY live row those subjects still have, across all
    * tables. Like [[repairPlan]], the output is a valid changelog, so
    * erasure flows through the NORMAL write path (entity fold,
    * [[graft.streaming.UpsertSink.mergeBatch]], downstream replicas) —
    * no bespoke deleter to get wrong, and replicas converge by
    * replaying the same segment. Deletes are emitted only for keys
    * that are actually LIVE (erasing an already-deleted key would be
    * a no-op row, but emitting it anyway would make the plan grow
    * with history, not with live data); the subject set rides a
    * broadcast semi-join against the one key-hash fold
    * [[entityState]] already pays. One op per (tbl, live id) makes
    * the fold order-free. */
  def erasurePlan(log: DataFrame, subjectIds: DataFrame): DataFrame = {
    val subjects = subjectIds.select(col("id")).distinct()
    entityState(log)
      .join(broadcast(subjects), Seq("id"), "left_semi")
      .select(col("tbl"), col("id"), lit("delete").as("op"),
        lit(null).cast("double").as("val"))
  }

  /** Capture-gap detection (SURVEY §2 A29): adjacent-position jumps
    * larger than `maxStep` within a binlog file — the integrity check
    * that distinguishes "filtered on purpose" from "events lost in
    * capture". On the committed stream a jump of exactly one tx width
    * marks a rolled-back transaction (expected); anything larger
    * means a capture hole a CDC deployment must re-snapshot across.
    * Output is gap-sized (one row per hole), and the window
    * partitions by `file` — binlog files are bounded, so no partition
    * exceeds one file's events (the [[groupTableMaps]] scale
    * argument). `log` must already carry `file` ([[attachFile]]). */
  def positionGaps(log: DataFrame, maxStep: Long): DataFrame = {
    val w = Window.partitionBy(col("file")).orderBy(col("pos"))
    log.withColumn("prev_pos", lag(col("pos"), 1).over(w))
      .filter(col("pos") - col("prev_pos") > maxStep)
      .select(col("file"), col("prev_pos").as("from_pos"),
        col("pos").as("to_pos"), (col("pos") - col("prev_pos")).as("gap"))
  }

  /** Point-in-time (temporal) join of facts against the [[scd2]]
    * version history: each fact picks up the dimension version that
    * was VALID AT ITS OWN TIME — the leakage-safe feature join every
    * training pipeline needs (joining today's dimension value onto
    * last month's fact leaks the future into the features; the
    * temporal join structurally cannot).
    *
    * Implementation: [[graft.operators.AsOf.join]] on `valid_from`
    * (one key exchange, no per-fact version explosion — the union+
    * window plan), then dimension columns are NULLed where the
    * matched version was already closed at fact time (`valid_to` ≤ t:
    * the entity did not exist then — a LEFT temporal join). */
  def temporalJoin(facts: DataFrame, versions: DataFrame, keys: Seq[String],
                   factTime: String, prefix: String = "dim_"): DataFrame = {
    val j = graft.operators.AsOf.join(facts, versions, keys, factTime,
        "valid_from", prefix)
      .withColumn("__live", col(prefix + "valid_from").isNotNull &&
        (col(prefix + "valid_to").isNull || col(factTime) < col(prefix + "valid_to")))
    versions.columns.filterNot(keys.contains).foldLeft(j) { (df, c) =>
      df.withColumn(prefix + c, when(col("__live"), col(prefix + c)))
    }.drop("__live")
  }

  /** Replica-drift detection: diff a materialized copy against what
    * the log says the state IS — the consistency check every CDC
    * deployment eventually needs ("is the downstream table still in
    * sync, and if not, which keys?"). Emits ONLY the out-of-sync
    * keys, classified: `missing` (log has the row, replica lost it),
    * `extra` (replica has a row the log tombstoned or never wrote),
    * `stale` (both present, values differ). In-sync keys emit
    * nothing, so at 100 TB the result is drift-sized, not
    * table-sized, and the single full-outer join is the same
    * key-hash shuffle [[applyChangelog]] already pays.
    *
    * `replica` must carry `(tbl, id, val)`; the expected side is
    * [[entityState]] of the (committed) log — pass a position-cut log
    * ([[entityStateAt]] semantics) to diff against a historical
    * consistency point. */
  def snapshotDiff(replica: DataFrame, log: DataFrame): DataFrame = {
    val expect = entityState(log)
      .select(col("tbl"), col("id"), col("val").as("e_val"))
    val have = replica.select(col("tbl"), col("id"), col("val").as("r_val"))
    have.join(expect, Seq("tbl", "id"), "full_outer")
      .withColumn("kind",
        when(col("r_val").isNull, lit("missing"))
          .when(col("e_val").isNull, lit("extra"))
          .when(col("r_val") =!= col("e_val"), lit("stale")))
      .filter(col("kind").isNotNull)
      .select(col("tbl"), col("id"), col("r_val"), col("e_val"), col("kind"))
  }

  /** Repair plan for a drifted replica: turn a [[snapshotDiff]] frame
    * into the MINIMAL changelog that brings the replica back in sync —
    * `missing`/`stale` keys become upserts of the log's value, `extra`
    * keys become deletes. The output is a valid changelog segment
    * (same (op, tbl, id, val) shape the appliers consume), so the fix
    * IS the normal write path: feed it to [[applyChangelog]] or
    * [[graft.streaming.UpsertSink.mergeBatch]] — no bespoke repair
    * writer to get wrong. Positions: the plan has exactly ONE op per
    * drifted key, so the fold is order-free — apply it at any position
    * past the diff's consistency cut. Drift-sized like the diff
    * itself; map-only on top of it (no exchange, no sort). */
  def repairPlan(diff: DataFrame): DataFrame =
    diff.select(col("tbl"), col("id"),
      when(col("kind") === "extra", lit("delete")).otherwise(lit("upsert")).as("op"),
      when(col("kind") === "extra", lit(null).cast("double"))
        .otherwise(col("e_val")).as("val"))
}
