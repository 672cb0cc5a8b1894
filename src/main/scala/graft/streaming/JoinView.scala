package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.cdc.Changelog

/** Incrementally-maintained JOIN view (SURVEY §2 B23): a live
  * `facts ⟕ dim` enrichment table under upserts AND deletes on BOTH
  * sides — the last IVM shape ([[AggView]] covers aggregates; this
  * covers the reference's "live search index" use case when the
  * indexed documents are enriched from a second replicated table).
  *
  * == Why the FK is the partition key ==
  *
  * A dim-side change must re-enrich exactly the facts referencing it.
  * A view bucketed by fact id would make that a full scan (the
  * classic IVM trap); bucketing the view by `pmod(xxhash64(fk), n)`
  * makes every maintenance trigger bucket-local:
  *
  *  - a fact delta lands in `bucket(fk)` — its before-image carries
  *    the fk (the A21 update-image contract), so an FK move arrives
  *    as delete(old fk) + upsert(new fk), touching both buckets;
  *  - a dim delta touches `bucket(dim_id)` — precisely where ALL the
  *    facts referencing it live, by construction.
  *
  * Per micro-batch the cost is O(batch + touched-bucket data + dim):
  * the dim state (broadcastable by contract — it re-enriches via a
  * broadcast join) is versioned alongside the view and shared
  * structurally across versions when a batch carries no dim change.
  *
  * The view is a [[ViewLayout]] view keyed by `fk`; its manifest
  * carries one extra `dim <dir>` line naming the dim-state dir.
  */
object JoinView {

  /** One change on either side of the join.
    *  - `side = "fact"`: `id` = fact key, `fk` = dim reference
    *    (REQUIRED on deletes too — the before-image contract),
    *    `value` = fact payload.
    *  - `side = "dim"`: `id` = dim key, `fk` unused, `value` = the
    *    dim payload facts enrich with. */
  case class JoinChange(pos: Long, op: String, side: String,
                        id: Long, fk: Long, value: Double)

  def storedNumBuckets(viewDir: String): Option[Int] =
    ViewLayout.storedNumBuckets(viewDir)

  private val factSchema = StructType(Seq(
    StructField("fk", LongType), StructField("id", LongType), StructField("fact_val", DoubleType),
    StructField("dim_val", DoubleType), StructField("last_pos", LongType)))
  private val dimSchema = StructType(Seq(
    StructField("dim_id", LongType), StructField("dim_value", DoubleType)))

  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    ViewLayout.read(spark, dirs, factSchema)

  /** The dim state at view-relative `dimDir` (empty if none). */
  private def readDimAt(spark: SparkSession, viewDir: String, dimDir: Option[String]): DataFrame =
    ViewLayout.read(spark, dimDir.map(d => s"$viewDir/$d").toSeq, dimSchema)

  /** The currently-published enriched view (empty if none). */
  def readCurrent(spark: SparkSession, viewDir: String): DataFrame =
    readDirs(spark, ViewLayout.currentBucketDirs(viewDir))

  /** The currently-published dim state (empty if none). */
  def readDim(spark: SparkSession, viewDir: String): DataFrame =
    readDimAt(spark, viewDir,
      ViewLayout.currentVersion(viewDir).flatMap(ViewLayout.manifestTag(viewDir, _, "dim")))

  /** Merge one batch of two-sided changes and publish
    * ([[ViewLayout.publish]]: idempotent per batchId; `numBuckets`
    * pinned at creation). */
  def mergeBatch(batch: Dataset[JoinChange], viewDir: String, batchId: Long,
                 numBuckets: Int = 64, retainVersions: Int = 2): Unit =
    ViewLayout.publish(viewDir, batchId, numBuckets, retainVersions, "view") { p =>
      val spark = batch.sparkSession
      val priorDim = p.priorTag("dim")
      val factDelta = Changelog.lastOpPerKey(batch.toDF().filter(col("side") === "fact"), "id", "fk")
        .select(col("fk"), col("id"), col("op"), col("value"), col("pos"))
        .withColumn("__bucket", p.bucket(col("fk")))
      val dimDelta = Changelog.lastOpPerKey(batch.toDF().filter(col("side") === "dim"), "id")
        .select(col("id").as("dim_id"), col("op"), col("value").as("dim_value"))

      // dim state: dim-sized by contract — merge + rewrite when the
      // batch touches it, otherwise share the prior version's directory
      val dimDirRel =
        if (dimDelta.limit(1).count() == 0) priorDim
        else {
          val merged = readDimAt(spark, viewDir, priorDim).as("p")
            .join(dimDelta.as("d"), col("p.dim_id") === col("d.dim_id"), "full_outer")
            .filter(coalesce(col("d.op"), lit("upsert")) === "upsert")
            .select(
              coalesce(col("d.dim_id"), col("p.dim_id")).as("dim_id"),
              when(col("d.dim_id").isNotNull, col("d.dim_value"))
                .otherwise(col("p.dim_value")).as("dim_value"))
          merged.write.mode(SaveMode.Overwrite).parquet(s"$viewDir/${p.version}/__dim")
          Some(s"${p.version}/__dim")
        }
      val dimNew = readDimAt(spark, viewDir, dimDirRel)

      // touched buckets: every fk a fact delta lands in, plus every
      // changed dim key's bucket (all its referencing facts live there);
      // written under facts/ so the write cannot clobber __dim above
      p.rewrite(factDelta.select(col("__bucket"))
          .unionByName(dimDelta.select(p.bucket(col("dim_id")).as("__bucket"))), "facts") {
        curDirs =>
          // 1. apply fact deltas on the (fk, id) key — batch wins,
          //    deletes drop (an FK move's two images hit two buckets)
          val facts = readDirs(spark, curDirs).as("c")
            .join(factDelta.as("b"),
              col("c.fk") === col("b.fk") && col("c.id") === col("b.id"), "full_outer")
            .filter(coalesce(col("b.op"), lit("upsert")) === "upsert")
            .select(
              coalesce(col("b.fk"), col("c.fk")).as("fk"),
              coalesce(col("b.id"), col("c.id")).as("id"),
              when(col("b.id").isNotNull, col("b.value"))
                .otherwise(col("c.fact_val")).as("fact_val"),
              when(col("b.id").isNotNull, col("b.pos"))
                .otherwise(col("c.last_pos")).as("last_pos"))
          // 2. re-enrich the touched buckets against the new dim state
          //    (broadcast by the dim-sized contract)
          facts.join(broadcast(dimNew), col("fk") === col("dim_id"), "left")
            .select(col("fk"), col("id"), col("fact_val"),
              col("dim_value").as("dim_val"), col("last_pos"),
              p.bucket(col("fk")).as("__bucket"))
      }
      dimDirRel.map(d => s"dim $d").toSeq
    }

  /** Re-shard the view's FACT buckets to `newN`
    * ([[ViewLayout.rebucket]]; writer stopped for the duration). The
    * dim state is bucket-count-independent (one dir), so the prior dim
    * directory is carried by reference. */
  def rebucket(spark: SparkSession, viewDir: String, newN: Int,
               retainVersions: Int = 2): Unit =
    ViewLayout.rebucket(viewDir, newN, retainVersions) { p =>
      p.write(readCurrent(spark, viewDir).withColumn("__bucket", p.bucket(col("fk"))), "facts")
      p.priorTag("dim").map(d => s"dim $d").toSeq
    }

  /** Start maintaining the join view from a two-sided change stream. */
  def materialize(changes: Dataset[JoinChange], viewDir: String,
                  checkpointDir: String, numBuckets: Int = 64,
                  retainVersions: Int = 2): StreamingQuery =
    changes.writeStream
      .foreachBatch((b: Dataset[JoinChange], id: Long) =>
        mergeBatch(b, viewDir, id, numBuckets, retainVersions))
      .option("checkpointLocation", checkpointDir)
      .start()
}
