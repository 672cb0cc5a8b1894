package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one home of keyed-state expiry and seeding for the stateful
  * stream operators: every `flatMapGroupsWithState` fold that expires
  * or seeds state runs through [[KeyedFold.apply]].
  *
  * Expiry. An [[KeyedFold.Expiry]] policy picks the timeout mode:
  * [[KeyedFold.Never]] keeps state until the fold removes it;
  * [[KeyedFold.Idle]] is a PROCESSING-time timer, `ms` of wall-clock
  * silence per key; [[KeyedFold.EventTime]] is an EVENT-time timer, `ms`
  * past an event time the fold reports, fired when the WATERMARK passes
  * it. A key whose timer fires leaves the store with no output (its
  * last row was already emitted). A group call clears the key's timer,
  * so the fold re-arms it whenever it wants the key to stay expirable
  * (`expiry.arm`); the fold alone decides when (the entity fold arms
  * only on tombstones, so live entities never expire). An event-time
  * timer is clamped to watermark + 1, which Spark requires. The trade
  * between the two clocks: a processing-time timer also expires state
  * once traffic STOPS, but an idle stream then spins empty micro-batches
  * to fire it; an event-time timer never spins and makes expiry a pure
  * function of the data and the watermark (a replay expires the same
  * keys), but fires only while the watermark advances, so on a quiet
  * stream state outlives its TTL until traffic resumes. An event-time
  * fold needs the watermark-tagged timestamp column in its INPUT rows:
  * projecting it away strips the tag and fails Spark's
  * event-time-timeout analysis check.
  *
  * What the event-time timer measures: `max(t + ms, watermark + 1)`
  * for the `t` of the LAST arming call. A fold that arms from the newest
  * event of the current batch (the bucket owners, the event-time funnel)
  * therefore measures from that batch, not from the key's newest event
  * ever: a row that arrives after a newer one for the same key, but not
  * behind the watermark (older rows are dropped before the fold), re-arms
  * from its own older time. Since the watermark trails the newest event
  * time seen by the watermark delay, such a row pulls the expiry earlier
  * by at most that delay, so a key lives at least `ms − delay` past its
  * newest event time. The entity fold arms from the tombstone's own
  * position, which never moves backwards, so its horizon is exact.
  *
  * Seeding. An `initial` state frame is loaded into the store without
  * invoking the fold, so a seeded key has no timer until its first group
  * call; a fold that must honour an event-time horizon for seeded state
  * applies it itself when it reads the prior state. */
private[streaming] object KeyedFold {

  sealed trait Expiry extends Serializable {
    private[KeyedFold] def timeout: GroupStateTimeout

    /** Re-arm the key's timer; `eventMs` is read by [[EventTime]] only. */
    def arm(state: GroupState[_], eventMs: => Long): Unit
  }

  case object Never extends Expiry {
    private[KeyedFold] def timeout = GroupStateTimeout.NoTimeout
    def arm(state: GroupState[_], eventMs: => Long): Unit = ()
  }

  final case class Idle(ms: Long) extends Expiry {
    private[KeyedFold] def timeout = GroupStateTimeout.ProcessingTimeTimeout
    def arm(state: GroupState[_], eventMs: => Long): Unit = state.setTimeoutDuration(ms)
  }

  final case class EventTime(ms: Long) extends Expiry {
    private[KeyedFold] def timeout = GroupStateTimeout.EventTimeTimeout
    def arm(state: GroupState[_], eventMs: => Long): Unit =
      state.setTimeoutTimestamp(math.max(eventMs + ms, state.getCurrentWatermarkMs() + 1))
  }

  /** A processing-time TTL where 0 (or less) means state never expires. */
  def idle(ms: Long): Expiry = if (ms > 0) Idle(ms) else Never

  /** `grouped.flatMapGroupsWithState` under `expiry`, optionally seeded
    * from `initial`; `fold` never sees a timed-out key. */
  def apply[K, V, S: Encoder, U: Encoder](
      grouped: KeyValueGroupedDataset[K, V], mode: OutputMode, expiry: Expiry,
      initial: Option[KeyValueGroupedDataset[K, S]] = None)(
      fold: (K, Iterator[V], GroupState[S]) => Iterator[U]): Dataset[U] = {
    val f = (key: K, rows: Iterator[V], state: GroupState[S]) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty[U] }
      else fold(key, rows, state)
    initial match {
      case Some(init) => grouped.flatMapGroupsWithState(mode, expiry.timeout, init)(f)
      case None => grouped.flatMapGroupsWithState(mode, expiry.timeout)(f)
    }
  }
}
