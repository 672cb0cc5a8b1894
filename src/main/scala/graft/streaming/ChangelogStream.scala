package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expression of the reference's live
  * replication path (`src/dumpr/stream.clj`).
  *
  * dumpr tails the MySQL binlog with a callback client and pushes rows
  * through in-process transducers; state (current tx buffer, schema
  * cache, current binlog file) lives in atoms/volatiles on one machine.
  * The Spark-native seat for each piece:
  *
  *  - the binlog client → any streaming source with the canonical
  *    changelog schema (file/Kafka/JDBC-CDC in production,
  *    `MemoryStream` in tests);
  *  - the entity-map fold → `flatMapGroupsWithState` keyed by
  *    `(tbl, id)` — state lives in Spark's checkpointed state store,
  *    so it survives failures and scales across executors;
  *  - tx buffering → `flatMapGroupsWithState` keyed by `tx`:
  *    buffer on data, release on commit, drop on rollback — the exact
  *    `filter-txs` semantics (`stream.clj:22-54`) with distributed,
  *    fault-tolerant state;
  *  - `next-position` → a running `max(pos)` aggregation any consumer
  *    can persist as its resume token.
  */
object ChangelogStream {

  /** Canonical changelog row (streaming twin of
    * [[graft.cdc.Changelog.fromEvents]]'s columns). */
  case class Change(pos: Long, op: String, tbl: String, id: Long, value: Double)

  /** Current state of one (tbl, id) entity. */
  case class Entity(tbl: String, id: Long, value: Double, lastPos: Long, live: Boolean)

  object Entity {
    /** One key's entity fold: `rows` apply on top of `prior` in
      * position order, and within one position deletes apply before
      * upserts — a PK swap expanded by [[ChangelogStream.expandUpdates]]
      * puts a tombstone and an upsert of the SAME key at the same pos,
      * and the upsert must win. The `>=` guard makes the same-pos pair
      * apply (and makes at-least-once re-delivery of the current
      * position a harmless no-op — replayed content is identical, the
      * checkpoint pins the offsets). None only when there is neither a
      * prior entity nor a row. */
    private[graft] def fold(key: (String, Long), prior: Option[Entity],
                            rows: Iterator[Change]): Option[Entity] =
      rows.toSeq.sortBy(c => (c.pos, c.op == "upsert")).foldLeft(prior) { (cur, c) =>
        if (cur.forall(c.pos >= _.lastPos))
          Some(Entity(key._1, key._2, c.value, c.pos, live = c.op == "upsert"))
        else cur
      }
  }

  /** Transaction-tagged event for the tx-atomicity operator.
    * `kind` ∈ begin | data | commit | rollback. */
  case class TxEvent(tx: Long, seq: Long, kind: String, change: Change)

  /** Changelog row whose update ops carry BOTH row images (`oldId` =
    * before-image key, `id` = after-image key) — the streaming twin of
    * [[graft.cdc.Changelog.expandUpdateImages]]'s input. */
  case class ImagedChange(pos: Long, op: String, tbl: String,
                          oldId: Long, id: Long, value: Double)

  /** Expand update events into primitive changes: a PK-changing update
    * (oldId ≠ id) becomes tombstone(oldId) + upsert(id) at the same
    * position; a PK-stable update is a single upsert. Stateless map —
    * runs before any keyed fold so [[entityState]] and
    * [[UpsertSink.materialize]] see only primitive ops. Within one
    * position the fold applies deletes before upserts (see
    * [[entityState]]), so PK swaps inside one multi-row UPDATE
    * resolve exactly like the batch path. */
  def expandUpdates(changes: Dataset[ImagedChange]): Dataset[Change] = {
    import changes.sparkSession.implicits._
    changes.flatMap { c =>
      if (c.op != "update") Seq(Change(c.pos, c.op, c.tbl, c.id, c.value))
      else if (c.oldId != c.id)
        Seq(Change(c.pos, "delete", c.tbl, c.oldId, 0.0),
            Change(c.pos, "upsert", c.tbl, c.id, c.value))
      else Seq(Change(c.pos, "upsert", c.tbl, c.id, c.value))
    }
  }

  /** B1: fold a changelog stream into live entity state (update mode).
    * Later positions win; a delete tombstones the entity (emitted with
    * `live = false` so downstream sinks can remove it — the streaming
    * analogue of `into-entity-map`'s dissoc).
    *
    * `initial` seeds the state store from a batch snapshot — the
    * snapshot→stream handoff of the reference
    * (`create-table-stream` then `create-binlog-stream` from
    * `next-position`, reference `README.md` "Initial load").
    *
    * `tombstoneTtlMs`: with 0 (default) a deleted entity's tombstone
    * stays in the state store forever — correct ordering defense, but
    * on a delete-heavy log the store grows with every entity that EVER
    * existed, not the live set. With a positive TTL, a tombstone that
    * sees no further changes for that long is REMOVED from the store
    * (processing-time timeout): past the TTL a replayed/late position
    * for the entity is treated as new, the same trade every CDC
    * consumer makes when it compacts deletes. Live entities are never
    * timed out — their state IS the view.
    *
    * Known gap (THIS processing-time variant only): a tombstone
    * supplied via `initial` has no timer until its key next receives
    * traffic — Spark seeds initial state without invoking the fold,
    * and a wall-clock TTL cannot be applied retroactively the way
    * [[entityStateEventTtl]] applies its event-time horizon. A
    * snapshot carrying dead entities should drop them first
    * (`filter(_.live)`), or accept that silent bootstrap tombstones
    * persist until first touch; the event-time twin closes this gap
    * properly and is the recommended bootstrap path. */
  def entityState(
      changes: Dataset[Change],
      initial: Option[Dataset[Entity]] = None,
      tombstoneTtlMs: Long = 0): Dataset[Entity] = {
    import changes.sparkSession.implicits._
    val grouped = changes.groupByKey(c => (c.tbl, c.id))
    val timeoutConf =
      if (tombstoneTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    def fold(key: (String, Long), rows: Iterator[Change], state: GroupState[Entity]): Iterator[Entity] = {
      if (tombstoneTtlMs > 0 && state.hasTimedOut) {
        // only tombstones register timeouts, so this is a quiet
        // delete leaving the store — no output, downstream already saw
        // the live=false row when the delete happened
        state.remove()
        return Iterator.empty
      }
      val cur = Entity.fold(key, state.getOption, rows)
      cur.foreach { e =>
        state.update(e)
        // a group invocation clears any previously-registered timeout,
        // so re-arm it on every tombstone touch and never on live rows
        if (tombstoneTtlMs > 0 && !e.live) state.setTimeoutDuration(tombstoneTtlMs)
      }
      cur.iterator
    }

    initial match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(
          OutputMode.Update, timeoutConf,
          init.groupByKey(e => (e.tbl, e.id)))(fold)
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Update, timeoutConf)(fold)
    }
  }

  /** [[entityState]] with an EVENT-TIME tombstone TTL: a deleted
    * entity's tombstone leaves the state store when the WATERMARK
    * passes its position's time + `tombstoneTtlMs` — the B31c/B18
    * convention (event-time timers never busy-spin an idle stream
    * with empty micro-batches; the flip side is that a quiet stream
    * stops advancing the watermark and tombstones then outlive the
    * TTL until traffic resumes — for a compaction horizon that's the
    * safe direction: no traffic means no late positions to defend
    * against either). `pos` is interpreted as event-time MICROS —
    * the changelog position is the log's own clock (Debezium's
    * `ts_ms`-derived positions, file offsets stamped at write);
    * `watermark` is the lateness bound on it. Live entities never
    * register timers — their state IS the view. Fold semantics are
    * identical to [[entityState]].
    *
    * Snapshot bootstrap (`initial`): seeded entities carry the
    * snapshot's own `lastPos` into the store, so the TTL clock starts
    * from the snapshot position, not from first streamed traffic; the
    * stream is additionally FLOORED at snapshot-position − delay
    * (pre-snapshot stragglers drop exactly as a continuous run's
    * watermark would have dropped them — see the floor comment in the
    * body).
    * Spark seeds initial state WITHOUT invoking the fold (timers can
    * only be armed inside an invocation), so a seeded tombstone's
    * removal timer arms lazily — and the fold therefore applies the
    * TTL **retroactively at first touch**: a stored tombstone whose
    * `pos + ttl` is already behind the watermark is treated as
    * REMOVED before folding, which makes the observable state
    * bit-identical to a from-scratch replay of snapshot+log
    * (spec-pinned, the B7 convention). The residual difference is
    * store RETENTION only: a seeded tombstone whose key never sees
    * traffic occupies its store slot until touched — bounded by the
    * snapshot's dead-entity count; a compaction-horizon bootstrap
    * can still pre-drop them (`filter(_.live)`) when the snapshot is
    * known compacted. */
  def entityStateEventTtl(
      changes: Dataset[Change],
      initial: Option[Dataset[Entity]] = None,
      tombstoneTtlMs: Long = 3600000L,
      watermark: String = "10 minutes"): Dataset[Entity] = {
    require(tombstoneTtlMs > 0,
      s"entityStateEventTtl: tombstoneTtlMs=$tombstoneTtlMs must be > 0")
    import changes.sparkSession.implicits._
    // Snapshot-position floor: a fresh query's watermark clock starts
    // at zero regardless of how far the SNAPSHOT's positions reach, so
    // without this a seeded run would accept pre-snapshot stragglers
    // that a continuous from-scratch run had already dropped as late
    // (its watermark stood at snapshot-position − delay when the log
    // handoff began — the reference's snapshot → `next-position` →
    // binlog contract). The floor replays exactly that bound. The
    // snapshot max is one driver-sized aggregate over the BATCH
    // snapshot frame; an empty snapshot floors nothing.
    val floored = initial.flatMap { init =>
      init.agg(max(col("lastPos"))).collect().headOption
        .filterNot(_.isNullAt(0)).map(_.getLong(0))
    } match {
      case Some(p) =>
        changes.where(
          timestamp_micros(col("pos")) >=
            timestamp_micros(lit(p)) - expr(s"INTERVAL $watermark"))
      case None => changes
    }
    val grouped = floored
      .withColumn("ets", timestamp_micros(col("pos")))
      .as[(Long, String, String, Long, Double, java.sql.Timestamp)]
      .withWatermark("ets", watermark)
      .groupByKey(c => (c._3, c._4))

    def fold(key: (String, Long),
             rows: Iterator[(Long, String, String, Long, Double, java.sql.Timestamp)],
             state: GroupState[Entity]): Iterator[Entity] = {
      if (state.hasTimedOut) {
        // only tombstones register timers — a quiet delete leaving
        // the store; downstream already saw the live=false row
        state.remove()
        return Iterator.empty
      }
      // retroactive TTL: a stored tombstone already past its horizon
      // (snapshot-seeded keys whose timer never armed, or a timer that
      // lost the race to same-batch data) is logically gone — treat
      // the incoming rows as arriving at an empty key, exactly what a
      // from-scratch replay would see. Makes expiry a pure function of
      // (positions, watermark), not of timer scheduling.
      val prior = state.getOption.filterNot(e =>
        !e.live && e.lastPos / 1000L + tombstoneTtlMs <= state.getCurrentWatermarkMs())
      val cur = Entity.fold(key, prior, rows.map(c => Change(c._1, c._2, c._3, c._4, c._5)))
      cur.foreach { e =>
        state.update(e)
        // group invocation clears any prior timer; re-arm only on
        // tombstones. The timestamp must sit at/after the current
        // watermark or Spark rejects it — clamp for late stragglers.
        if (!e.live) {
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(math.max(e.lastPos / 1000L + tombstoneTtlMs, wm + 1))
        }
      }
      cur.iterator
    }

    initial match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout,
          init.groupByKey(e => (e.tbl, e.id)))(fold)
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(fold)
    }
  }

  /** B4: transaction atomicity on a stream — buffer each tx, release
    * on commit, drop on rollback, strip the markers. With
    * `txTimeoutMs > 0` an open tx is dropped (like a never-committed
    * tx) after that much processing-time silence; `0` disables
    * timeouts (bounded test streams). */
  def filterCommitted(events: Dataset[TxEvent], txTimeoutMs: Long = 60000): Dataset[Change] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (txTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.tx)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (tx: Long, rows: Iterator[TxEvent], state: GroupState[Seq[TxEvent]]) => {
          if (txTimeoutMs > 0 && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val buf = state.getOption.getOrElse(Seq.empty) ++ rows
            val committed = buf.exists(_.kind == "commit")
            val rolledBack = buf.exists(_.kind == "rollback")
            if (committed) {
              state.remove()
              buf.sortBy(_.seq).iterator.filter(_.kind == "data").map(_.change)
            } else if (rolledBack) {
              state.remove()
              Iterator.empty
            } else {
              state.update(buf)
              if (txTimeoutMs > 0) state.setTimeoutDuration(txTimeoutMs)
              Iterator.empty
            }
          }
        })
  }

  /** B2: resume-token stream — running max position (complete mode),
    * the streaming `next-position` (`src/dumpr/core.clj:107-113`). */
  def positionTracking(changes: Dataset[Change]): DataFrame =
    changes.agg(max(col("pos")).as("max_pos"))
      .select((col("max_pos") + 1).as("next_pos"))

  /** A detected hole in one source's GTID sequence: transactions
    * `[gapFrom, gapTo]` were never seen before a later txno arrived. */
  case class GtidGap(sourceUuid: String, gapFrom: Long, gapTo: Long)

  /** Per-source streaming state for [[gtidGaps]]: the executed
    * watermark (highest txno seen). */
  case class GtidHi(hi: Long)

  /** B28: streaming GTID executed-window — the live twin of
    * [[graft.cdc.Changelog.gtidExecuted]]: running per-source
    * `(txno_lo, txno_hi)` over a stream of `"source_uuid:txno"`
    * strings (the column [[graft.sources.Debezium.decode]] lands).
    * A plain streaming min/max aggregate: state is one row per
    * replication source (control-sized at any log volume), complete/
    * update output modes both valid — a consumer persists
    * `txno_hi + 1` as its GTID resume token each micro-batch. */
  def gtidExecutedStream(gtids: Dataset[String]): DataFrame =
    gtids.filter(col("value").isNotNull)
      .select(substring_index(col("value"), ":", 1).as("source_uuid"),
        substring_index(col("value"), ":", -1).cast("long").as("txno"))
      .groupBy(col("source_uuid"))
      .agg(min(col("txno")).as("txno_lo"), max(col("txno")).as("txno_hi"))

  /** B28b: streaming GTID GAP detector — the live twin of the batch
    * capture-gap check (`cdc_position_gap`, A29), re-keyed by
    * transaction id: per source, any txno arriving more than one past
    * the executed watermark means the transactions in between were
    * never delivered (a dropped binlog segment, a filtered-out
    * channel) — emitted append-mode as `[gapFrom, gapTo]` exactly
    * once, when first observed. State per source is ONE long (the
    * watermark), so the store stays control-sized forever; re-delivery
    * of already-executed txnos (≤ watermark) is a no-op, matching
    * GTID at-least-once semantics. Within a micro-batch txnos are
    * sorted, so intra-batch reordering never fabricates a gap.
    * Malformed GTIDs (no ':', empty source, non-numeric txno) are
    * dropped, mirroring [[gtidExecutedStream]]'s null-tolerant cast —
    * a bad line must not crash the query. */
  def gtidGaps(gtids: Dataset[String]): Dataset[GtidGap] = {
    import gtids.sparkSession.implicits._
    gtids.filter(_ != null)
      .flatMap { g =>
        val i = g.lastIndexOf(':')
        if (i <= 0 || i == g.length - 1) None
        else g.substring(i + 1).toLongOption
          // GTID txnos are >= 1: a non-positive value is malformed
          // input that would poison the watermark and fabricate gaps
          .filter(_ > 0)
          .map(t => (g.substring(0, i), t))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, Long)], state: GroupState[GtidHi]) => {
          val out = Seq.newBuilder[GtidGap]
          var hi = state.getOption.map(_.hi).getOrElse(Long.MinValue)
          rows.map(_._2).toSeq.sorted.foreach { t =>
            if (hi != Long.MinValue && t > hi + 1)
              out += GtidGap(src, hi + 1, t - 1)
            if (t > hi) hi = t
          }
          state.update(GtidHi(hi))
          out.result().iterator
        })
  }

  /** B9: schema attach on a live stream — the reference runs
    * `add-table-schema` INSIDE the binlog pipeline
    * (`stream.clj:197-212`); here the versioned registry
    * ([[graft.cdc.SchemaRegistry]]) is a STATIC control frame and the
    * attach is a stream-static broadcast join re-planned per
    * micro-batch: each streamed row picks up the schema version in
    * force at its position. Rows whose table has no registry entry
    * flow with NULL `schema_version` — filter them to a dead-letter
    * sink, the streaming analogue of the reference's `:error` rows
    * (`stream.clj:180-196`). Requires the stream to expose
    * `(tbl, pos)`. */
  def attachSchema(stream: DataFrame, registry: DataFrame): DataFrame =
    graft.cdc.SchemaRegistry.attach(stream, registry)

  /** Raw binlog event for the table-map pairing operator: db/tbl are
    * set only on `kind = 'table_map'` rows. */
  case class RawEvent(file: String, pos: Long, kind: String,
                      db: String, tbl: String, value: Double)

  /** State of [[groupTableMaps]]: the current table map of one file. */
  case class TableMapState(db: String, tbl: String, pos: Long)

  /** B8: `group-table-maps` on a live stream
    * (`src/dumpr/stream.clj:76-97`): each write/update/delete inherits
    * the (db, tbl) of the latest preceding table-map event of its
    * binlog file; table-map rows are swallowed; other events pass
    * alone. State (current table map per file) lives in the
    * checkpointed store, so a table map at the tail of one micro-batch
    * governs mutations at the head of the next — the property a real
    * binlog source needs, since batch boundaries fall anywhere.
    * Events are ordered by pos within each (file, batch) group before
    * pairing (binlog order; groups are bounded by one file's share of
    * a micro-batch). */
  /** One closed SCD2 version: `[validFrom, validTo)` with the value
    * that held over the interval. */
  case class ClosedVersion(tbl: String, id: Long, value: Double,
                           validFrom: Long, validTo: Long)

  /** One key's open SCD2 version (streaming state). */
  case class OpenVersion(validFrom: Long, value: Double, lastPos: Long,
                         live: Boolean)

  /** Streaming SCD Type-2 (SURVEY §2 B24) — the live twin of
    * [[graft.cdc.Changelog.scd2]]: each key's OPEN version rides the
    * state store (16 B + a double per key), and a version row is
    * emitted APPEND-MODE exactly when it CLOSES — a value-changing
    * upsert closes the previous version, a delete closes the live one
    * (emitting nothing new), a same-value upsert extends (no-op, the
    * batch operator's change detection). Append output means the
    * history sink receives each closed interval exactly once — the
    * current open rows remain the [[entityState]] stream's product
    * (SCD2's history + entityState's present = the warehouse pair).
    * Position-monotone per key within a batch is sorted; re-delivery
    * of the current position is a no-op (the entityState guard). */
  def scd2Versions(changes: Dataset[Change]): Dataset[ClosedVersion] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(c => (c.tbl, c.id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), rows: Iterator[Change], state: GroupState[OpenVersion]) => {
          val out = Seq.newBuilder[ClosedVersion]
          var cur = state.getOption.orNull
          rows.toSeq.sortBy(c => (c.pos, c.op == "upsert")).foreach { c =>
            if (cur == null || c.pos > cur.lastPos ||
                (c.pos == cur.lastPos && c.op == "upsert")) {
              c.op match {
                case "upsert" if cur == null || !cur.live =>
                  cur = OpenVersion(c.pos, c.value, c.pos, live = true)
                case "upsert" if cur.value != c.value =>
                  out += ClosedVersion(key._1, key._2, cur.value, cur.validFrom, c.pos)
                  cur = OpenVersion(c.pos, c.value, c.pos, live = true)
                case "upsert" => // same-value no-op: extend
                  cur = cur.copy(lastPos = c.pos)
                case "delete" if cur != null && cur.live =>
                  out += ClosedVersion(key._1, key._2, cur.value, cur.validFrom, c.pos)
                  cur = cur.copy(lastPos = c.pos, live = false)
                case _ => // delete on dead/absent key: no-op
                  if (cur != null) cur = cur.copy(lastPos = c.pos)
              }
            }
          }
          if (cur != null) state.update(cur)
          out.result().iterator
        })
  }

  def groupTableMaps(raw: Dataset[RawEvent]): Dataset[RawEvent] = {
    import raw.sparkSession.implicits._
    val mutations = Set("write", "update", "delete")
    raw.groupByKey(_.file)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[RawEvent], state: GroupState[TableMapState]) => {
          var cur = state.getOption.orNull
          val out = Seq.newBuilder[RawEvent]
          rows.toSeq.sortBy(_.pos).foreach { e =>
            if (e.kind == "table_map") cur = TableMapState(e.db, e.tbl, e.pos)
            else if (mutations(e.kind))
              out += (if (cur != null) e.copy(db = cur.db, tbl = cur.tbl)
                      else e.copy(db = null, tbl = null))
            else out += e.copy(db = null, tbl = null)
          }
          if (cur != null) state.update(cur)
          out.result().iterator
        })
  }
}
