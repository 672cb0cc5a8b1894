package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Materialize
import graft.streaming.ChangelogStream.{Change, Entity}

/** Incrementally-maintained grouped aggregate over a changelog stream
  * — the reference's "building live views of data for analytics"
  * use case (reference `README.md`) taken past entity state to the
  * AGGREGATE the analyst actually reads (sum/count per group, e.g.
  * revenue per table/domain/region), kept current under upserts,
  * value updates and deletes without ever rescanning the table.
  *
  * Native streaming aggregation cannot express this: an upsert stream
  * is not an append stream — a new value for key k must RETRACT the
  * old value's contribution, and deletes must subtract. The classic
  * incremental-view-maintenance identity (sum and count are
  * self-maintainable under point updates) does it with per-key state:
  *
  *  1. [[aggDeltas]]: the entity fold ([[ChangelogStream.entityState]]
  *     semantics — later pos wins, same-pos delete-before-upsert)
  *     keyed by (tbl, id) compares each key's folded batch outcome to
  *     its prior state and emits one (grp, ΔSum, ΔCnt) fact per
  *     changed key: insert → (+v, +1), value update → (+v−v₀, 0),
  *     delete → (−v₀, −1), no-op → nothing. State: one Entity per key
  *     (exactly what entityState already pays); output: append-only
  *     delta facts, batch-sized.
  *  2. [[mergeBatch]]: deltas aggregate per group (map-side combined)
  *     and merge into the published view, a [[ViewLayout]] view keyed
  *     by `grp` — so a batch rewrites ONLY the buckets containing
  *     changed groups, O(batch + touched-bucket data), never O(groups).
  *     A dim-cardinality view (tables, regions) fits one bucket; a
  *     PER-USER group key gets bucket-local maintenance instead of an
  *     O(all-users) rewrite every micro-batch. A replay whose state
  *     already reflected the batch emits zero deltas, which the
  *     publish's replay guard also absorbs.
  *
  * Money-grade sums should switch `value` to decimal end-to-end; the
  * double here follows the changelog fixture's schema.
  */
object AggView {

  /** One group's maintained aggregate. */
  case class GroupAgg(grp: String, sumVal: Double, cnt: Long)

  /** Per-key change in group contribution (append-only facts). */
  case class GroupDelta(grp: String, dSum: Double, dCnt: Long)

  /** Stage 1: changelog → per-key aggregate deltas. `grpOf` maps a
    * key (tbl, id) to its group — any pure function of the key (group
    * by table, id range, shard, …). */
  def aggDeltas(changes: Dataset[Change],
                grpOf: (String, Long) => String): Dataset[GroupDelta] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(c => (c.tbl, c.id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), rows: Iterator[Change], state: GroupState[Entity]) => {
          val prior = state.getOption
          val cur = Entity.fold(key, prior, rows)
          cur.foreach(state.update)
          val oldVal = prior.filter(_.live).map(_.value).getOrElse(0.0)
          val newVal = cur.filter(_.live).map(_.value).getOrElse(0.0)
          val dSum = newVal - oldVal
          val dCnt = (if (cur.exists(_.live)) 1L else 0L) - (if (prior.exists(_.live)) 1L else 0L)
          if (dSum == 0.0 && dCnt == 0L) Iterator.empty
          else Iterator.single(GroupDelta(grpOf(key._1, key._2), dSum, dCnt))
        })
  }

  private val viewSchema = Encoders.product[GroupAgg].schema

  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    ViewLayout.read(spark, dirs, viewSchema)

  /** The currently-published view (empty if never published). */
  def readCurrent(spark: SparkSession, dir: String): DataFrame =
    readDirs(spark, ViewLayout.currentBucketDirs(dir))

  /** Stage 2: fold one batch of deltas into the published view
    * ([[ViewLayout.publish]]: idempotent per batchId; `numBuckets`
    * pinned at creation; `retainVersions` bounds on-disk history).
    * Groups whose count returns to zero leave the view (a fully-deleted
    * group is absent, not a 0-row). */
  def mergeBatch(deltas: Dataset[GroupDelta], dir: String, batchId: Long,
                 numBuckets: Int = 16, retainVersions: Int = 2): Unit =
    ViewLayout.publish(dir, batchId, numBuckets, retainVersions, "agg view") { p =>
      val spark = deltas.sparkSession
      // cached: referenced by BOTH the touched-bucket collect and the
      // merge join — without it the per-batch delta aggregation executes
      // twice. MEMORY_AND_DISK keeps lineage, so an evicted block
      // recomputes instead of failing (batch-sized either way).
      Materialize.scoped { s =>
        val agg = s.persist(deltas.groupBy(col("grp"))
          .agg(sum(col("dSum")).as("dSum"), sum(col("dCnt")).as("dCnt"))
          .withColumn("__bucket", p.bucket(col("grp"))))
        p.rewrite(agg.select("__bucket")) { curDirs =>
          readDirs(spark, curDirs).withColumn("__bucket", p.bucket(col("grp"))).as("c")
            .join(agg.as("d"), col("c.grp") === col("d.grp"), "full_outer")
            .select(coalesce(col("c.grp"), col("d.grp")).as("grp"),
              (coalesce(col("c.sumVal"), lit(0.0)) + coalesce(col("d.dSum"), lit(0.0))).as("sumVal"),
              (coalesce(col("c.cnt"), lit(0L)) + coalesce(col("d.dCnt"), lit(0L))).as("cnt"),
              coalesce(col("c.__bucket"), col("d.__bucket")).as("__bucket"))
            .where(col("cnt") > 0)
        }
      }
      Nil
    }

  /** Re-shard the view to `newN` group-buckets
    * ([[ViewLayout.rebucket]]; writer stopped for the duration). */
  def rebucket(spark: SparkSession, dir: String, newN: Int,
               retainVersions: Int = 2): Unit =
    ViewLayout.rebucket(dir, newN, retainVersions) { p =>
      p.write(readCurrent(spark, dir).withColumn("__bucket", p.bucket(col("grp"))))
      Nil
    }

  /** Maintain a live (grp, sumVal, cnt) view of `changes` at `dir`. */
  def materialize(changes: Dataset[Change], grpOf: (String, Long) => String,
                  dir: String, checkpointDir: String, numBuckets: Int = 16,
                  retainVersions: Int = 2): StreamingQuery =
    aggDeltas(changes, grpOf).writeStream
      .foreachBatch((batch: Dataset[GroupDelta], batchId: Long) =>
        mergeBatch(batch, dir, batchId, numBuckets, retainVersions))
      .option("checkpointLocation", checkpointDir)
      .start()
}
