package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated binlog event, in the canonical changelog shape graft
  * consumes. `op` is upsert | delete | update; an update carries its
  * before-image key in `oldId` (a PK-changing update has oldId != id).
  * `etype` follows graft's marker convention: `error` marks the
  * transaction it belongs to as rolled back, `signup` is a binlog
  * rotate whose `id` is the new file number, `data` is anything else.
  * `nCols` is the column count of the table's schema in force at `pos`. */
final case class GenEvent(pos: Long, op: String, tbl: String, id: Long, oldId: Long,
                          tx: Long, etype: String, amount: Double, nCols: Int)

/** A generated live transaction: its events in order and whether it
  * commits (otherwise it rolls back). */
final case class GenTx(tx: Long, events: Vector[GenEvent], committed: Boolean)

/** The bulk-load input: snapshot rows `(tbl, id, amount)`, the binlog
  * backlog, and the ALTER TABLE control events `(tbl, pos)`. */
final case class BootstrapInput(snapshot: Vector[(String, Long, Double)],
                                log: Vector[GenEvent], alters: Vector[(String, Long)]) {
  def events: Int = snapshot.size + log.size
}

/** Seeded generators for the CDC workloads. Every draw comes from one
  * `SplittableRandom` per generator, so a seed fixes the inputs
  * byte for byte and never depends on timing. */
object CdcGen {
  val Kept: Seq[String] = Seq("customer", "orders")
  val Filtered = "audit"
  val DataEtype = "data"
  val RollbackEtype = "error"
  val RotateEtype = "signup"
  /** Columns of every table before any ALTER: id, name, amount, status. */
  val BaseCols = 4
  /** Position of snapshot rows: before every binlog position. */
  val SnapshotPos = 0L

  val RollbackShare = 0.03
  val RotateEvery = 2000
  val DeleteShare = 0.12
  val PkChangeShare = 0.05
  val FilteredShare = 0.10
  val AltersPerTable = 3
  val MaxTxEvents = 6

  /** Ids per table the backlog draws from: 1.25x the snapshot's. */
  def keySpace(keysPerTable: Int): Int = keysPerTable + keysPerTable / 4

  def cents(r: SplittableRandom): Double = r.nextInt(1, 1000000) / 100.0

  /** Snapshot of `keysPerTable` rows per kept table plus a backlog of
    * about `nEvents` binlog events with uniform keys over 1.25x the
    * snapshot key space (so some upserts insert and some deletes miss). */
  def bootstrap(seed: Long, keysPerTable: Int, nEvents: Int): BootstrapInput = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    val snapshot = for (t <- Kept.toVector; id <- 0L until keysPerTable.toLong)
      yield (t, id, cents(r))
    val ids = keySpace(keysPerTable)
    // ALTER positions are reserved binlog positions; no row event uses them
    val alterAt = mutable.TreeMap.empty[Long, String]
    for (t <- Kept; _ <- 0 until AltersPerTable) {
      var p = 0L
      while (p == 0L || alterAt.contains(p)) p = 2L + r.nextInt(math.max(2, nEvents - 2))
      alterAt(p) = t
    }
    val version = mutable.Map.empty[String, Int].withDefaultValue(0)
    val log = Vector.newBuilder[GenEvent]
    val alters = Vector.newBuilder[(String, Long)]
    var pos = SnapshotPos + 1
    var tx = 0L
    var n = 0
    var file = 0L
    def nextPos(): Long = {
      while (alterAt.contains(pos)) {
        val t = alterAt(pos)
        alters += ((t, pos))
        version(t) += 1
        pos += 1
      }
      pos += 1
      pos - 1
    }
    while (n < nEvents) {
      if (n >= (file + 1) * RotateEvery) {
        file += 1
        tx += 1
        log += GenEvent(nextPos(), "upsert", "rotate", file, file, tx, RotateEtype, 0.0, 0)
        n += 1
      }
      tx += 1
      val k = 1 + r.nextInt(MaxTxEvents)
      val rollbackAt = if (r.nextDouble() < RollbackShare) r.nextInt(k) else -1
      for (j <- 0 until k) {
        val tbl = if (r.nextDouble() < FilteredShare) Filtered else Kept(r.nextInt(Kept.size))
        val u = r.nextDouble()
        val id = r.nextInt(ids).toLong
        val (op, oldId) =
          if (u < DeleteShare) ("delete", id)
          else if (u < DeleteShare + PkChangeShare) ("update", r.nextInt(ids).toLong)
          else if (u < 0.5) ("update", id)
          else ("upsert", id)
        val etype = if (j == rollbackAt) RollbackEtype else DataEtype
        val p = nextPos()
        log += GenEvent(p, op, tbl, id, oldId, tx, etype, cents(r), BaseCols + version(tbl))
        n += 1
      }
    }
    BootstrapInput(snapshot, log.result(), alters.result())
  }

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  val ZipfS = 1.0
  val LiveDeleteShare = 0.10
}

/** Live changelog that continues a bulk load: transactions whose keys
  * follow a Zipf law over a seeded permutation of the kept tables' key
  * space (`idSpace` ids per table), at positions after `startPos`. */
final class ReplicateGen(seed: Long, val idSpace: Int, startPos: Long) {
  import CdcGen._
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 23)
  private val nKeys = Kept.size * idSpace
  private val perm: Array[Int] = {
    val a = Array.range(0, nKeys)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val zipf = new Zipf(nKeys, ZipfS)
  private var pos = startPos
  private var tx = 0L

  /** The key (tbl, id) of a Zipf rank. */
  def keyOf(rank: Int): (String, Long) = {
    val k = perm(rank)
    (Kept(k % Kept.size), (k / Kept.size).toLong)
  }

  def sampleKey(rnd: SplittableRandom): (String, Long) = keyOf(zipf.sample(rnd))

  def nextTx(): GenTx = {
    tx += 1
    val k = 1 + r.nextInt(5)
    val committed = r.nextDouble() >= RollbackShare
    val evs = Vector.fill(k) {
      val (tbl, id) = sampleKey(r)
      val op = if (r.nextDouble() < LiveDeleteShare) "delete" else "upsert"
      pos += 1
      GenEvent(pos, op, tbl, id, id, tx, DataEtype, cents(r), BaseCols)
    }
    GenTx(tx, evs, committed)
  }
}

/** The reference fold, written without graft or Spark: dumpr's
  * `into-entity-map` (`test/dumpr/test_util.clj`). Committed events
  * apply in position order; an upsert sets the key's row, a delete
  * removes it, and an update removes its before-image key and then
  * sets its after-image key, both at one position. Events of
  * rolled-back transactions, rotates and filtered tables leave no
  * trace. State maps (tbl, id) to (value, last position). */
object Oracle {
  type State = mutable.HashMap[(String, Long), (Double, Long)]

  def apply1(m: State, e: GenEvent): Unit = e.op match {
    case "upsert" => m((e.tbl, e.id)) = (e.amount, e.pos)
    case "delete" => m.remove((e.tbl, e.id))
    case "update" =>
      m.remove((e.tbl, e.oldId))
      m((e.tbl, e.id)) = (e.amount, e.pos)
  }

  def intoEntityMap(initial: Iterable[((String, Long), (Double, Long))],
                    log: Seq[GenEvent], keep: Set[String]): Map[(String, Long), (Double, Long)] = {
    val rolledBack = log.filter(_.etype == CdcGen.RollbackEtype).map(_.tx).toSet
    val m: State = mutable.HashMap.from(initial)
    log.sortBy(_.pos).foreach { e =>
      if (!rolledBack(e.tx) && e.etype != CdcGen.RotateEtype && keep(e.tbl)) apply1(m, e)
    }
    m.toMap
  }

  def bootstrapState(in: BootstrapInput): Map[(String, Long), (Double, Long)] =
    intoEntityMap(in.snapshot.map { case (t, id, a) => ((t, id), (a, CdcGen.SnapshotPos)) },
      in.log, CdcGen.Kept.toSet)

  /** dumpr's `next-position`: the file named by the last rotate and
    * the position after the last event. */
  def resumeToken(log: Seq[GenEvent]): (String, Long) = {
    val rotates = log.filter(_.etype == CdcGen.RotateEtype)
    val file = if (rotates.isEmpty) 0L else rotates.maxBy(_.pos).id
    (f"bin.$file%06d", log.map(_.pos).max + 1)
  }

  /** Apply committed transactions, in stream order, to `m`. */
  def applyTxs(m: State, txs: Seq[GenTx]): Unit =
    txs.foreach(t => if (t.committed) t.events.foreach(apply1(m, _)))
}
