package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for the caches and checkpoints an operator makes
  * for itself.
  *
  * `scoped { s => … }` lends a [[Scope]]. Every frame made through
  * `s.persist` (`MEMORY_AND_DISK`, `Dataset.persist()`'s level) or
  * `s.checkpoint` (an eager `localCheckpoint`) is released when the body
  * returns or throws: blocking, newest first, so a failed action cannot
  * leave a block set registered and no lazy plan races the release. A
  * frame the caller had already persisted comes back untouched and stays
  * the caller's. `s.free` releases one frame early (an iteration's
  * superseded round). `eager { s => plan }` is the shape of an operator
  * that materializes its result: the plan is checkpointed inside the
  * scope, the intermediates are released, and the checkpoint is the one
  * block set that outlives the call; [[release]] frees it.
  * `Dataset.unpersist` cannot free a checkpoint (it has no cache-manager
  * entry), so checkpoints are freed through [[RddBridge]].
  *
  * Operators that return a lazy frame over plain `persist()` (the pair
  * miners, the `Corpus` trainers) are not scoped: freeing before the
  * caller's action would recompute them, so their caller releases with
  * `spark.catalog.clearCache()`. */
object Materialize {

  final class Scope private[Materialize] () {
    // (frame, is a checkpoint), newest first
    private var held: List[(DataFrame, Boolean)] = Nil

    def persist(df: DataFrame): DataFrame =
      if (df.storageLevel != StorageLevel.NONE) df
      else { df.persist(StorageLevel.MEMORY_AND_DISK); held ::= (df -> false); df }

    /** Eager `localCheckpoint`; a frame this scope already checkpointed
      * comes back as it is. */
    def checkpoint(df: DataFrame): DataFrame =
      if (held.exists(h => h._2 && (h._1 eq df))) df
      else {
        val c = df.localCheckpoint(eager = true)
        held ::= (c -> true)
        c
      }

    /** Release one frame this scope made, before the scope ends. */
    def free(df: DataFrame): Unit = {
      held.find(_._1 eq df).foreach(drop)
      keep(df)
    }

    private[Materialize] def keep(df: DataFrame): Unit =
      held = held.filterNot(_._1 eq df)

    private[Materialize] def close(): Unit = {
      val all = held
      held = Nil
      all.foreach(drop)
    }

    private def drop(h: (DataFrame, Boolean)): Unit =
      if (h._2) RddBridge.unpersistCheckpoint(h._1, blocking = true)
      else h._1.unpersist(blocking = true)
  }

  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.close()
  }

  def eager(plan: Scope => DataFrame): DataFrame = scoped { s =>
    val out = s.checkpoint(plan(s))
    s.keep(out)
    out
  }

  /** Free the checkpoint [[eager]] returned. No-op for any other plan
    * shape, so a harness may call it on every result. */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    RddBridge.unpersistCheckpoint(df, blocking)
}
