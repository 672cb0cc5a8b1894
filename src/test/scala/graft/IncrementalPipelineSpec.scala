package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize, Sketch}
import graft.sinks.ZoneMap

/** The DAY-2 pipeline: a new crawl batch lands against yesterday's
  * corpus — exact dedup vs the snapshot, near-dup vs the snapshot's
  * band index, semantic dedup within the survivors, a per-stratum
  * health report, and a zone-mapped landing of the final batch. The
  * second-session operators must CHAIN the way the first E2E spec
  * proves the original hygiene stack does. */
class IncrementalPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("day-2 crawl: snapshot dedup gates → semantic keepers → health report → zone-mapped landing") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val cutoff = 250L
    val batchN = docs.where(col("doc_id") >= cutoff).count()

    // 1. exact-content gate vs the snapshot
    val g1 = Dedup.incremental(docs, cutoff)
      .where(col("keep") === 1).select("doc_id")
    // 2. near-dup gate vs the snapshot's band index
    val g2 = Dedup.incrementalNearDup(docs, cutoff)
      .where(col("keep") === 1).select("doc_id")
    val surv = g1.join(g2, "doc_id")
    val nSurv = surv.count()
    assert(nSurv > 0 && nSurv <= batchN)
    assert(nSurv < batchN, "driver data plants near-dups across the cutoff")

    // 3. semantic dedup within the surviving batch: train on the full
    // corpus (the codebook is a corpus artifact), keep pairs whose
    // BOTH ends survived, collapse components to min-id keepers
    val emb = Tables.embeddings(spark, sf)
    val survPairs = Dedup.semanticPairs(emb, k = 8, iters = 2, threshold = 0.4002)
      .join(surv.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
      .join(surv.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val comps = Dedup.connectedComponents(
      surv.select(col("doc_id").as("node")), survPairs)
    assert(comps.count() == nSurv, "components are total over the survivors")
    val finalIds = comps.where(col("node") === col("comp"))
      .select(col("node").as("doc_id"))
    val nFinal = finalIds.count()
    assert(nFinal > 0 && nFinal <= nSurv)

    // 4. health report: per-language length deciles of the final batch
    val finalDocs = docs.join(finalIds, "doc_id")
    val report = Sketch.groupQuantileSketch(
      finalDocs, col("lang"), col("doc_id"), col("n_chars"), k = 100)
    val langs = report.select("stratum").distinct().count()
    assert(langs == finalDocs.select("lang").distinct().count(),
      "every surviving language gets its profile")

    // 5. zone-mapped landing, range-clustered by doc_id; a pruned
    // readback of an id range equals the plain filter
    val dir = java.nio.file.Files.createTempDirectory("graft_day2").toString
    ZoneMap.write(
      finalDocs.select("doc_id", "lang", "n_chars").repartitionByRange(4, col("doc_id")),
      dir, Seq("doc_id"))
    val lo = 300L; val hi = 380L
    val pruned = ZoneMap.readRange(spark, dir, "doc_id", lit(lo), lit(hi))
      .select("doc_id").as[Long].collect().toSet
    val want = finalDocs.where(col("doc_id") >= lo && col("doc_id") <= hi)
      .select("doc_id").as[Long].collect().toSet
    assert(pruned == want)
  }

  test("incrementalNearDup releases its corpus-sized caches before returning") {
    // a caller looping daily increments must not accumulate pinned
    // shingle/group frames: only the batch-doc-sized result checkpoint
    // may survive the call
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.incrementalNearDup(
      Tables.documents(spark, "/root/testdata/sf0.001"), cutoff = 250L)
    val n = out.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"only the result checkpoint may stay persisted, found ${leaked.size} new RDDs")
    assert(n > 0)
    // Dataset.unpersist is a no-op on checkpoint blocks — the public
    // release helper frees them deterministically
    Materialize.release(out, blocking = true)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"release must free the result checkpoint, still persisted: $after")
  }
}
