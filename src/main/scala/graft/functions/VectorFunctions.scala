package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.graftbridge.ColumnBridge.{toColumn, toExpr}

/** Vector math over `array<float>` embedding columns.
  *
  * All arithmetic is promoted to double and accumulated strictly
  * left-to-right, which makes results bit-reproducible across engines
  * and partitionings (a requirement for the DuckDB oracle and for
  * threshold-stable dedup at scale).
  *
  * The hot path ([[cosine]]) is a native codegen'd expression: one
  * fused loop per pair, no per-element boxing — this is what a
  * 2M-pair brute-force scan runs through. [[cosineHof]] is the
  * higher-order-function formulation kept as a cross-check: both
  * produce bit-identical doubles (same operation order).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double, left-to-right (higher-order form; fine for
    * small fan-in like hyperplane bucketing). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via HOFs — reference formulation. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fused native cosine: xy / (√xx · √yy), all three sums in one
    * loop, same accumulation order as [[cosineHof]]. */
  case class CosineF32(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineF32 =
      copy(left = l, right = r)

    override def nullSafeEval(av: Any, bv: Any): Any = {
      val a = av.asInstanceOf[ArrayData]
      val b = bv.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var xy = 0.0; var xx = 0.0; var yy = 0.0
      var i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        xy += x * y; xx += x * x; yy += y * y
        i += 1
      }
      java.lang.Double.valueOf(xy / (math.sqrt(xx) * math.sqrt(yy)))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val xy = ctx.freshName("xy")
        val xx = ctx.freshName("xx")
        val yy = ctx.freshName("yy")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |int $n = Math.min($a.numElements(), $b.numElements());
           |double $xy = 0.0, $xx = 0.0, $yy = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = (double) $a.getFloat($i);
           |  double $y = (double) $b.getFloat($i);
           |  $xy += $x * $y; $xx += $x * $x; $yy += $y * $y;
           |}
           |${ev.value} = $xy / (Math.sqrt($xx) * Math.sqrt($yy));
           |""".stripMargin
      })
  }

  /** Cosine similarity in double precision (native fused loop). */
  def cosine(a: Column, b: Column): Column = toColumn(CosineF32(toExpr(a), toExpr(b)))

  /** [[CosineF32]]'s arithmetic against a plan-constant centroid —
    * identical loop/accumulation order, so scores are bit-equal to the
    * pairwise expression (required for oracle hash-match). */
  def cosineVsConst(a: ArrayData, b: Array[Float]): Double = {
    val n = math.min(a.numElements(), b.length)
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b(i).toDouble
      xy += x * y; xx += x * x; yy += y * y
      i += 1
    }
    xy / (math.sqrt(xx) * math.sqrt(yy))
  }

  /** Kernel for [[NearestCentroids]] (also called from generated
    * code): ids of the `n` centroids nearest to `v` by (cosine desc,
    * id asc — strict-greater keeps the first/lowest id on ties).
    *
    * Zero-norm vectors: a zero-norm `v` (or centroid) yields NaN
    * cosines, and `NaN > x` is false for every x — so NaN-scored
    * centroids lose every comparison and are picked last, in codebook
    * id order. Deterministic, no special-casing needed; an all-zero
    * `v` degrades to "first n centroid ids". */
  def nearestCids(v: ArrayData, cents: Array[Array[Float]], cids: Array[Long],
                  n: Int): GenericArrayData = {
    val m = cents.length
    val cos = new Array[Double](m)
    var c = 0
    while (c < m) { cos(c) = cosineVsConst(v, cents(c)); c += 1 }
    val used = new Array[Boolean](m)
    val picked = new Array[Long](n)
    var r = 0
    while (r < n) {
      var best = -1
      var i = 0
      while (i < m) {
        if (!used(i) && (best < 0 || cos(i) > cos(best))) best = i
        i += 1
      }
      used(best) = true
      picked(r) = cids(best)
      r += 1
    }
    new GenericArrayData(picked)
  }

  /** Ids of the `n` nearest centroids of a plan-constant codebook —
    * the IVF coarse quantizer as a pure map-side expression. The
    * codebook (an index artifact, built once) ships as a plan constant
    * to every task, so inverted-list assignment of a 100 TB corpus
    * never shuffles an embedding: the only per-row state that moves is
    * the chosen list id. */
  case class NearestCentroids(child: Expression, cents: Array[Array[Float]],
                              cids: Array[Long], n: Int) extends UnaryExpression {
    require(cents.length == cids.length,
      s"codebook mismatch: ${cents.length} centroids vs ${cids.length} ids")
    require(n >= 1 && n <= cents.length,
      s"nprobe/n=$n must be in [1, ${cents.length}] (codebook size)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): NearestCentroids = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      nearestCids(v.asInstanceOf[ArrayData], cents, cids, n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
        val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
        s"${ev.value} = graft.functions.VectorFunctions.nearestCids($c, $centsRef, $cidsRef, $n);"
      })
  }

  def nearestCentroids(v: Column, cents: Array[Array[Float]], cids: Array[Long], n: Int): Column =
    toColumn(NearestCentroids(toExpr(v), cents, cids, n))

  /** All `bands` sign-LSH band buckets of one embedding in a single
    * fused pass — the kernel behind
    * [[graft.operators.Dedup.embeddingPairsLsh]]'s signature
    * projection. One `when(dot > 0)` HOF per plane was fine at the
    * fixed 8×6 geometry (48 planes); the r14 cardinality-adaptive
    * geometry runs up to 28×13 = 364 planes, and 364 separate
    * `aggregate(zip_with(...))` evaluations per row dominated the
    * whole operator at 32× scale (the HOF path allocates per element;
    * this loop is flat multiply-adds). Arithmetic is BIT-IDENTICAL to
    * the HOF form — per plane, Σ double(v[k])·plane[k] accumulated
    * left-to-right from 0.0 — so the DuckDB oracle's per-plane CASE
    * replay is unchanged. */
  def hyperplaneBuckets(v: ArrayData, planes: Array[Array[Double]],
                        bands: Int, perBand: Int): ArrayData = {
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0
      var i = 0
      while (i < perBand) {
        val p = planes(b * perBand + i)
        val n = math.min(v.numElements(), p.length)
        var acc = 0.0
        var k = 0
        while (k < n) { acc += v.getFloat(k).toDouble * p(k); k += 1 }
        if (acc > 0) bucket |= (1 << i)
        i += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Codegen'd [[hyperplaneBuckets]]: the plane matrix (an index
    * artifact, a few hundred KB at most) ships as a plan constant —
    * the same posture as [[NearestCentroids]]' codebook. */
  case class HyperplaneBucketsExpr(child: Expression, planes: Array[Array[Double]],
                                   bands: Int, perBand: Int) extends UnaryExpression {
    require(planes.length == bands * perBand,
      s"plane count ${planes.length} != bands $bands × perBand $perBand")
    require(perBand >= 1 && perBand <= 31, s"perBand=$perBand must fit an int bucket")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): HyperplaneBucketsExpr =
      copy(child = c)

    override def nullSafeEval(v: Any): Any =
      hyperplaneBuckets(v.asInstanceOf[ArrayData], planes, bands, perBand)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
        s"${ev.value} = graft.functions.VectorFunctions.hyperplaneBuckets(" +
          s"$c, $planesRef, $bands, $perBand);"
      })
  }

  def signBuckets(v: Column, planes: Array[Array[Double]], bands: Int, perBand: Int): Column =
    toColumn(HyperplaneBucketsExpr(toExpr(v), planes, bands, perBand))

  /** 0-based index of the first position where two int arrays agree;
    * -1 when none — the map-side pair-dedup test of the banded LSH
    * join ("keep this pair only in its FIRST matching band"). Same
    * contract as `array_position(zip_with(a, b, (x, y) -> x = y),
    * true) - 1`, which is what the engine ran until r14: at the
    * adaptive geometry a near-dup CLUSTER pair collides in nearly all
    * bands, so the join streams bands×pairs rows and the HOF form
    * paid a per-row boolean-array allocation right where row volume
    * is highest. */
  def firstEqualBand(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getInt(i) == b.getInt(i)) return i
      i += 1
    }
    -1
  }

  case class FirstEqualBandExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildrenInternal(l: Expression, r: Expression): FirstEqualBandExpr =
      copy(left = l, right = r)

    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Integer.valueOf(firstEqualBand(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorFunctions.firstEqualBand($a, $b);")
  }

  def firstEqualBandCol(a: Column, b: Column): Column =
    toColumn(FirstEqualBandExpr(toExpr(a), toExpr(b)))

  /** Two-level coarse quantization kernel — the documented escape past
    * the flat argmax's nlist ceiling ([[nearestCids]] is O(nlist·dim)
    * per row; `git show 6c9821a:IVFSCALE_r14.json` locates the crossover at
    * nlist ≈ 4–8k): score the √nlist-ish SUPER-cells first, then scan
    * only the top `probeSupers` supers' member cells —
    * O((m + w·k/m)·dim) per row. Probing w ≥ 2 supers covers boundary cells; with
    * `probeSupers = m` the scan degenerates to exactly the flat
    * kernel's candidate set, and ties break to the lowest codebook
    * index exactly as [[nearestCids]]' scan order does, so the
    * full-probe result is bit-identical. A probe set smaller than `n`
    * falls back to the flat scan (tiny codebooks / degenerate
    * super-index) — correctness over speed. */
  def nearestCidsTwoLevel(v: ArrayData, l1: Array[Array[Float]],
                          members: Array[Array[Int]], cents: Array[Array[Float]],
                          cids: Array[Long], probeSupers: Int, n: Int): GenericArrayData = {
    val m = l1.length
    val w = math.min(probeSupers, m)
    val scos = new Array[Double](m)
    var s = 0
    while (s < m) { scos(s) = cosineVsConst(v, l1(s)); s += 1 }
    val sUsed = new Array[Boolean](m)
    val candIdx = new Array[Int](cents.length)
    var candCount = 0
    var r = 0
    while (r < w) {
      var best = -1
      var i = 0
      while (i < m) {
        if (!sUsed(i) && (best < 0 || scos(i) > scos(best))) best = i
        i += 1
      }
      sUsed(best) = true
      val mem = members(best)
      var j = 0
      while (j < mem.length) { candIdx(candCount) = mem(j); candCount += 1; j += 1 }
      r += 1
    }
    if (candCount < n) return nearestCids(v, cents, cids, n)
    // scan candidates in ascending codebook-index order: member lists
    // are per-super, so concatenation order is arbitrary — sorting
    // restores the flat kernel's scan order, which is what breaks
    // ties AND what orders NaN-scored candidates (zero-norm vectors
    // make every cosine NaN, so both the > and == clauses below are
    // false and selection follows scan order alone)
    java.util.Arrays.sort(candIdx, 0, candCount)
    val cos = new Array[Double](candCount)
    var c = 0
    while (c < candCount) { cos(c) = cosineVsConst(v, cents(candIdx(c))); c += 1 }
    val used = new Array[Boolean](candCount)
    val picked = new Array[Long](n)
    r = 0
    while (r < n) {
      var best = -1
      var i = 0
      while (i < candCount) {
        // (cos desc, codebook index asc) — member lists are not index-
        // sorted across supers, so the flat kernel's scan-order tie
        // rule must be explicit here
        if (!used(i) && (best < 0 || cos(i) > cos(best) ||
            (cos(i) == cos(best) && candIdx(i) < candIdx(best)))) best = i
        i += 1
      }
      used(best) = true
      picked(r) = cids(candIdx(best))
      r += 1
    }
    new GenericArrayData(picked)
  }

  /** [[nearestCidsTwoLevel]] as a plan-constant expression — same
    * index-artifact posture as [[NearestCentroids]]; the super index
    * comes from [[graft.operators.Cluster.superIndex]]. */
  case class NearestCentroidsTwoLevel(child: Expression, l1: Array[Array[Float]],
                                      members: Array[Array[Int]],
                                      cents: Array[Array[Float]], cids: Array[Long],
                                      probeSupers: Int, n: Int) extends UnaryExpression {
    require(cents.length == cids.length && l1.length == members.length,
      "two-level index mismatch")
    require(probeSupers >= 1 && n >= 1 && n <= cents.length)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): NearestCentroidsTwoLevel =
      copy(child = c)

    override def nullSafeEval(v: Any): Any =
      nearestCidsTwoLevel(v.asInstanceOf[ArrayData], l1, members, cents, cids,
        probeSupers, n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val l1Ref = ctx.addReferenceObj("l1", l1, "float[][]")
        val memRef = ctx.addReferenceObj("members", members, "int[][]")
        val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
        val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
        s"${ev.value} = graft.functions.VectorFunctions.nearestCidsTwoLevel(" +
          s"$c, $l1Ref, $memRef, $centsRef, $cidsRef, $probeSupers, $n);"
      })
  }

  def nearestCentroidsTwoLevel(v: Column, l1: Array[Array[Float]],
                               members: Array[Array[Int]], cents: Array[Array[Float]],
                               cids: Array[Long], probeSupers: Int, n: Int): Column =
    toColumn(NearestCentroidsTwoLevel(toExpr(v), l1, members, cents, cids, probeSupers, n))

  /** Element-wise vector sum in scale-7 FIXED POINT, emitted as
    * `array<float>` — the Lloyd-update kernel. Bit-identical to the
    * formulation it replaces:
    * {{{
    *   posexplode(v) → groupBy(d) → sum(x.cast("decimal(25,7)"))
    *   → collect → transform(CAST(s AS FLOAT))
    * }}}
    * but ONE aggregate row per vector instead of `dim` exploded rows
    * through the hash aggregate — the trainers' measured cost is this
    * fan-out (`git show 6c9821a:IVFSCALE_r14.json`: Lloyd dominates the IVF
    * build).
    * Parity argument, leg by leg: Spark's float→decimal(25,7) cast is
    * `Decimal(f.toDouble)` rounded HALF_UP to scale 7, i.e. the
    * `BigDecimal.valueOf(double).setScale(7, HALF_UP)` unscaled long
    * this kernel accumulates; a decimal sum is exact (order-free), so
    * summing unscaled longs is the same number; the final
    * decimal→float cast is `BigDecimal.floatValue`, applied here to
    * the identical (unscaled, 7) pair. Accumulation uses `addExact` —
    * a per-centroid |Σx| beyond 9.2e11 (unreachable for unit-norm
    * embeddings by ~11 orders) fails fast instead of wrapping; NaN /
    * ±Inf elements are skipped exactly as their decimal cast
    * null-out. Rows must carry exactly `dim` elements (fail fast —
    * the silent-short-array lesson from the phash guard). */
  case class VecSumFixed(child: Expression, dim: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]] {
    require(dim > 0, "VecSumFixed: dim must be positive")
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(org.apache.spark.sql.types.FloatType,
      containsNull = false)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VecSumFixed =
      copy(child = c.head)
    override def withNewMutableAggBufferOffset(o: Int): VecSumFixed =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): VecSumFixed =
      copy(inputAggBufferOffset = o)

    override def createAggregationBuffer(): Array[Long] = new Array[Long](dim)

    private def toFixed(x: Float): Long = {
      val d = x.toDouble
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return 0L
      java.math.BigDecimal.valueOf(d)
        .setScale(7, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    }

    override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val a = v.asInstanceOf[ArrayData]
        require(a.numElements() == dim,
          s"VecSumFixed: expected $dim elements, got ${a.numElements()}")
        var i = 0
        while (i < dim) {
          buf(i) = Math.addExact(buf(i), toFixed(a.getFloat(i)))
          i += 1
        }
      }
      buf
    }

    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { buf(i) = Math.addExact(buf(i), other(i)); i += 1 }
      buf
    }

    override def eval(buf: Array[Long]): Any =
      new GenericArrayData(buf.map(s =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(s), 7).floatValue()))

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(dim * 8)
      bb.asLongBuffer().put(buf)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val out = new Array[Long](dim)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }
  }

  /** [[VecSumFixed]] as an aggregate Column. */
  def vecSumFixed(v: Column, dim: Int): Column =
    toColumn(VecSumFixed(toExpr(v), dim)
      .toAggregateExpression(isDistinct = false))
}
