package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic point-in-interval range join (SURVEY §2 C10) by adaptive
  * position buckets, for interval sets that may overlap and need not
  * be few. A disjoint set bounded by a file count, such as the binlog
  * rotates, is better binary-searched per row on its driver-collected
  * starts ([[graft.cdc.Changelog.attachFile]]).
  *
  * A naive `p >= lo AND p < hi` theta-join is a broadcast
  * nested-loop: O(|points|·|intervals|) comparisons. Instead the
  * observed point range is cut into ~2¹⁶ equal buckets (width adapts
  * to the data — dense event ids and sparse 64-bit byte offsets both
  * produce ~2¹⁶ control rows), each interval explodes onto the
  * buckets it covers, and points equi-join on their own bucket — one
  * hash join, linear in the points, AQE-splittable. The exploded
  * interval table stays a few MB and broadcasts.
  *
  * Intervals are `[lo, hi)` and MAY overlap — every containing
  * interval matches (inner-join semantics; intervals are control
  * relations: rotate sets, schema versions, maintenance windows,
  * IP-geo ranges). Range stats come from a 1-row aggregate
  * cross-joined onto both sides — fully declarative, no driver
  * action, no collect. */
object RangeJoin {

  /** Inner join: each `points` row × each interval containing
    * `points(pointCol)`. Interval columns pass through; intervals
    * entirely outside the observed point range are pruned before the
    * explode. */
  def pointInInterval(points: DataFrame, pointCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String): DataFrame = {
    // Bucket width adapts to BOTH spreads: the point range (so sparse
    // 64-bit offsets never explode) AND the summed interval coverage
    // (so many wide overlapping intervals don't — each interval emits
    // ~width/bsize rows, so capping coverage/bsize at ~2^16 bounds the
    // exploded control table at ~2^16 + |intervals| rows regardless
    // of interval shape). Both stats are 1-row aggregates of control
    // relations — still fully declarative.
    val coverage = intervals
      .agg(coalesce(sum(col(hiCol) - col(loCol)), lit(0L)).as("__cov"))
    val stats = points.agg(
        min(col(pointCol)).as("__p_min"), max(col(pointCol)).as("__p_max"))
      .crossJoin(broadcast(coverage))
      .withColumn("__bsize",
        greatest(lit(1L), expr(s"(__p_max - __p_min + 1) div 65536"),
          expr(s"__cov div 65536")))
      .drop("__cov")
    val byBucket = intervals
      .crossJoin(broadcast(stats))
      // intervals that cannot contain any observed point never explode;
      // hi > lo also drops empty/inverted intervals — otherwise
      // __b_hi < __b_lo and sequence() would emit a DESCENDING run of
      // up to ~2^16 spurious bucket rows per degenerate interval
      // (correct after the containment filter, but unbounded work)
      .filter(col(hiCol) > col(loCol) &&
        col(hiCol) > col("__p_min") && col(loCol) <= col("__p_max"))
      // integer `div`, never `/`: double division loses precision past
      // 2^53 and mis-buckets realistic 64-bit byte offsets
      .withColumn("__b_lo",
        expr(s"(greatest($loCol, __p_min) - __p_min) div __bsize"))
      .withColumn("__b_hi",
        expr(s"(least($hiCol - 1, __p_max) - __p_min) div __bsize"))
      .withColumn("__bucket", explode(sequence(col("__b_lo"), col("__b_hi"))))
      .drop("__b_lo", "__b_hi", "__p_min", "__p_max", "__bsize")
    points
      .crossJoin(broadcast(stats))
      .withColumn("__bucket", expr(s"($pointCol - __p_min) div __bsize"))
      .join(broadcast(byBucket), Seq("__bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket", "__p_min", "__p_max", "__bsize")
  }

  /** Interval-overlap join: every (a, b) pair whose half-open
    * intervals intersect (`a.lo < b.hi AND b.lo < a.hi`) — sessions
    * overlapping maintenance windows, concurrent transactions, IP
    * ranges sharing a block. The naive theta-join is again a
    * nested-loop; here BOTH sides explode onto the ~2¹⁶ adaptive
    * buckets they cover and candidates equi-join per bucket.
    *
    * A pair overlapping several buckets would duplicate; instead of a
    * distinct exchange, each pair is kept only in the FIRST bucket of
    * its overlap region (`(greatest(a.lo, b.lo) − min) div bsize` —
    * both intervals provably explode onto that bucket), the
    * SimHashFirstBand trick in interval form: exact dedup, map-side,
    * free. Column names of the two inputs must be disjoint; both
    * relations' columns pass through. */
  def intervalOverlap(a: DataFrame, aLo: String, aHi: String,
                      b: DataFrame, bLo: String, bHi: String): DataFrame = {
    val clash = a.columns.toSet.intersect(b.columns.toSet)
    require(clash.isEmpty,
      s"intervalOverlap: column(s) ${clash.mkString(", ")} appear on both sides — rename one")
    val aStats = a.agg(min(col(aLo)).as("__min_a"), max(col(aHi)).as("__max_a"),
      coalesce(sum(col(aHi) - col(aLo)), lit(0L)).as("__cov_a"))
    val bStats = b.agg(min(col(bLo)).as("__min_b"), max(col(bHi)).as("__max_b"),
      coalesce(sum(col(bHi) - col(bLo)), lit(0L)).as("__cov_b"))
    // least/greatest skip NULLs, so an empty side degrades gracefully
    // (the join is empty anyway); coverage caps the per-interval
    // explode exactly as in pointInInterval
    val stats = aStats.crossJoin(broadcast(bStats))
      .select(least(col("__min_a"), col("__min_b")).as("__min"),
        greatest(col("__max_a"), col("__max_b")).as("__max"),
        (col("__cov_a") + col("__cov_b")).as("__cov"))
      .withColumn("__bsize",
        greatest(lit(1L), expr("(__max - __min + 1) div 65536"),
          expr("__cov div 65536")))
      .drop("__cov")
    def exploded(df: DataFrame, lo: String, hi: String): DataFrame = df
      .crossJoin(broadcast(stats))
      .filter(col(hi) > col(lo)) // empty/inverted intervals match nothing
      .withColumn("__b_lo", expr(s"($lo - __min) div __bsize"))
      .withColumn("__b_hi", expr(s"($hi - 1 - __min) div __bsize"))
      .withColumn("__bucket", explode(sequence(col("__b_lo"), col("__b_hi"))))
      .drop("__b_lo", "__b_hi")
    val ea = exploded(a, aLo, aHi)
    val eb = exploded(b, bLo, bHi).drop("__min", "__max", "__bsize")
    ea.join(eb, Seq("__bucket"))
      .filter(col(aLo) < col(bHi) && col(bLo) < col(aHi))
      // first-shared-bucket dedup: exactly one surviving copy per pair
      .filter(col("__bucket") ===
        expr(s"(greatest($aLo, $bLo) - __min) div __bsize"))
      .drop("__bucket", "__min", "__max", "__bsize")
  }
}
