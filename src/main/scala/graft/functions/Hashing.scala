package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, lit, shiftrightunsigned}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document-hashing primitives as native Catalyst expressions
  * (SURVEY §2 E3): MinHash signatures, SimHash, and a 64-bit content
  * fingerprint. One pass over the input per row, no UDF boxing; the
  * hash core is a public-domain construction (FNV-1a over bytes mixed
  * with splitmix64 finalizers), so results are stable across JVMs and
  * documented for reimplementation.
  *
  * These are the operators behind the reference-beyond dedup surface:
  * MinHash→LSH banding for near-dup candidate generation, SimHash for
  * hamming-distance dedup, fingerprints for exact/rolling identity.
  */
object Hashing {

  /** FNV-1a 64-bit over UTF-8 bytes, then splitmix64 finalizer with a
    * seed mixed in — cheap, well-distributed, public-domain. */
  @inline def hash64(bytes: Array[Byte], seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    // splitmix64 finalizer
    h += 0x9e3779b97f4a7c15L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** splitmix64 of a long with a seed — the long-input counterpart of
    * [[hash64]]. */
  @inline def hashLong(v: Long, seed: Long): Long = {
    var z = v ^ seed
    z += 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Sorted distinct hashed word 3-gram shingles in one native pass:
    * equivalent to `array_sort(array_distinct(transform(shingles3(w),
    * fingerprint)))` but codegen'd — higher-order functions evaluate
    * their lambdas interpreted per element, which made the shingle
    * pipeline the hottest interpreted loop in the engine. Hash of a
    * shingle = [[hash64]] (seed 3) over the `w1_w2_w3` UTF-8 bytes,
    * bit-identical to [[Fingerprint64]] of the concatenated string. */
  case class HashedShingles3(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): HashedShingles3 = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(Hashing.hashedShingles3(v.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.Hashing.hashedShingles3($c));""".stripMargin)
  }

  /** Shared kernel for [[HashedShingles3]] (called from generated
    * code): hash each 3-gram window, sort, dedupe adjacent. */
  def hashedShingles3(words: ArrayData): Array[Long] = hashedShinglesN(words, 3)

  /** Generalized n-gram shingle kernel (also called from generated
    * code): hash each `ng`-word window (`w1_w2_…_wng`, same `_`
    * joining and seed as the 3-gram form), sort, dedupe adjacent.
    * `ng = 13` is the common train/eval decontamination width. */
  def hashedShinglesN(words: ArrayData, ng: Int): Array[Long] = {
    val n = words.numElements()
    if (n < ng) return Array.emptyLongArray
    val m = n - ng + 1
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = words.getUTF8String(i).getBytes; i += 1 }
    val hs = new Array[Long](m)
    i = 0
    while (i < m) {
      var len = ng - 1
      var j = 0
      while (j < ng) { len += bytes(i + j).length; j += 1 }
      val buf = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < ng) {
        val b = bytes(i + j)
        System.arraycopy(b, 0, buf, off, b.length)
        off += b.length
        if (j < ng - 1) { buf(off) = '_'; off += 1 }
        j += 1
      }
      hs(i) = hash64(buf, 3L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedupe adjacent
    var w = 1
    i = 1
    while (i < m) {
      if (hs(i) != hs(i - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == m) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** [[HashedShingles3]] generalized to `ng`-word windows. */
  case class HashedShinglesN(child: Expression, ng: Int) extends UnaryExpression {
    require(ng >= 1, s"shingle width must be >= 1, got $ng")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): HashedShinglesN = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(Hashing.hashedShinglesN(v.asInstanceOf[ArrayData], ng))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.Hashing.hashedShinglesN($c, $ng));""".stripMargin)
  }

  /** MinHash signature of a string or long array: `numHashes`
    * permutations via the standard h1 + i·h2 double-hashing scheme
    * (one hash pass per element). Empty/null arrays → signature of
    * Long.MaxValue. */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression {
    // lazy: dataType is only legal on resolved children
    private lazy val longInput: Boolean = child.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val (h1, h2) =
          if (longInput) {
            val x = arr.getLong(i)
            (hashLong(x, 0L), hashLong(x, 1L))
          } else {
            val bytes = arr.getUTF8String(i).getBytes
            (hash64(bytes, 0L), hash64(bytes, 1L))
          }
        var j = 0
        while (j < numHashes) {
          val hv = h1 + j * h2
          if (hv < sig(j)) sig(j) = hv
          j += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val sig = ctx.freshName("sig")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val h1 = ctx.freshName("h1")
        val h2 = ctx.freshName("h2")
        val hv = ctx.freshName("hv")
        val x = ctx.freshName("x")
        val hcls = "graft.functions.Hashing"
        val hashes =
          if (longInput)
            s"""long $x = $c.getLong($i);
               |long $h1 = $hcls.hashLong($x, 0L);
               |long $h2 = $hcls.hashLong($x, 1L);""".stripMargin
          else
            s"""byte[] $x = $c.getUTF8String($i).getBytes();
               |long $h1 = $hcls.hash64($x, 0L);
               |long $h2 = $hcls.hash64($x, 1L);""".stripMargin
        s"""
           |long[] $sig = new long[$numHashes];
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |for (int $i = 0; $i < $c.numElements(); $i++) {
           |  $hashes
           |  for (int $j = 0; $j < $numHashes; $j++) {
           |    long $hv = $h1 + $j * $h2;
           |    if ($hv < $sig[$j]) $sig[$j] = $hv;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
           |""".stripMargin
      })
  }

  /** LSH band hashes over a MinHash signature: `bands` hashes, each a
    * 31-fold over `rowsPerBand` consecutive signature entries. Native
    * expression so the wrap-around long arithmetic is plain Java —
    * Column-level `*`/`+` would throw under ANSI mode (Spark 4
    * default) on intentional overflow. */
  case class BandHashes(child: Expression, bands: Int, rowsPerBand: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): BandHashes = copy(child = c)

    override def nullSafeEval(v: Any): Any = {
      val sig = v.asInstanceOf[ArrayData]
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var acc = 17L
        var r = 0
        while (r < rowsPerBand) {
          acc = acc * 31 + sig.getLong(b * rowsPerBand + r)
          r += 1
        }
        out(b) = acc
        b += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val out = ctx.freshName("out")
        val b = ctx.freshName("b")
        val r = ctx.freshName("r")
        val acc = ctx.freshName("acc")
        s"""
           |long[] $out = new long[$bands];
           |for (int $b = 0; $b < $bands; $b++) {
           |  long $acc = 17L;
           |  for (int $r = 0; $r < $rowsPerBand; $r++) {
           |    $acc = $acc * 31L + $c.getLong($b * $rowsPerBand + $r);
           |  }
           |  $out[$b] = $acc;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })
  }

  /** 64-bit SimHash of a token array: per-token hash votes on each bit,
    * weighted by multiplicity. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < arr.numElements()) {
        val h = hash64(arr.getUTF8String(i).getBytes, 2L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 64) {
        if (votes(j) > 0) out |= (1L << j)
        j += 1
      }
      java.lang.Long.valueOf(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val votes = ctx.freshName("votes")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val out = ctx.freshName("out")
        val hcls = "graft.functions.Hashing"
        s"""
           |int[] $votes = new int[64];
           |for (int $i = 0; $i < $c.numElements(); $i++) {
           |  long $h = $hcls.hash64($c.getUTF8String($i).getBytes(), 2L);
           |  for (int $j = 0; $j < 64; $j++) {
           |    if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
           |  }
           |}
           |long $out = 0L;
           |for (int $j = 0; $j < 64; $j++) if ($votes[$j] > 0) $out |= (1L << $j);
           |${ev.value} = $out;
           |""".stripMargin
      })
  }

  /** Intersection size of two SORTED long arrays — one O(n+m) merge
    * pass, no hash sets, no per-pair allocation. The workhorse of the
    * pair-verify step in shingle dedup: arrays are pre-hashed and
    * pre-sorted once per document, so each of the millions of
    * candidate pairs costs only a linear scan. */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
      copy(left = l, right = r)

    override def nullSafeEval(lv: Any, rv: Any): Any = {
      val a = lv.asInstanceOf[ArrayData]
      val b = rv.asInstanceOf[ArrayData]
      var i = 0; var j = 0; var n = 0
      val la = a.numElements(); val lb = b.numElements()
      while (i < la && j < lb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { n += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      java.lang.Integer.valueOf(n)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val n = ctx.freshName("n")
        val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        s"""
           |int $i = 0, $j = 0, $n = 0;
           |int $la = $a.numElements(), $lb = $b.numElements();
           |while ($i < $la && $j < $lb) {
           |  long $x = $a.getLong($i); long $y = $b.getLong($j);
           |  if ($x == $y) { $n++; $i++; $j++; }
           |  else if ($x < $y) $i++;
           |  else $j++;
           |}
           |${ev.value} = $n;
           |""".stripMargin
      })
  }

  /** 64-bit content fingerprint (FNV-1a + finalizer) of a string. */
  case class Fingerprint64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(hash64(v.asInstanceOf[UTF8String].getBytes, 3L))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val hcls = "graft.functions.Hashing"
        s"${ev.value} = $hcls.hash64($c.getBytes(), 3L);"
      })
  }

  /** The chunk-pair band geometry of a `width`-bit SimHash-style
    * signature at hamming radius `maxHamming`: `maxHamming + 2` chunks
    * bounded at `(width * c) / nChunks`, and one band per unordered
    * chunk pair (i, j), i < j, in lexicographic order, as
    * ((lo_i, w_i), (lo_j, w_j)) bit offsets and widths. ≤ maxHamming
    * differing bits damage at most maxHamming chunks, so two chunks
    * survive intact and their band matches: the pigeonhole guarantee
    * covers the full radius. The banding column, the first-band
    * kernel and the DuckDB oracles all follow it. */
  def chunkPairBands(maxHamming: Int, width: Int): IndexedSeq[((Int, Int), (Int, Int))] = {
    // with fewer bits than chunks some chunks are zero-width, every
    // row's band value collapses into one universal bucket and the
    // band self-join silently goes quadratic — fail fast instead
    require(maxHamming + 2 <= width,
      s"need maxHamming + 2 <= width for non-empty band chunks, got maxHamming=$maxHamming width=$width")
    val nChunks = maxHamming + 2
    val bounds = (0 to nChunks).map(c => (width * c) / nChunks)
    val chunks = bounds.zip(bounds.tail).map { case (lo, hi) => (lo, hi - lo) }
    for { i <- 0 until nChunks; j <- (i + 1) until nChunks } yield (chunks(i), chunks(j))
  }

  /** The band values of signature `sig` under [[chunkPairBands]]: chunk
    * i's bits above chunk j's. Chunks extract by unsigned shift, so a
    * set bit 63 bands like any other. */
  def chunkPairBandsCol(sig: Column, maxHamming: Int, width: Int): Column = {
    def chunk(c: (Int, Int)): Column =
      shiftrightunsigned(sig, c._1).bitwiseAND(lit((1L << c._2) - 1))
    array(chunkPairBands(maxHamming, width).map { case (ci, cj) =>
      chunk(ci) * lit(1L << cj._2) + chunk(cj)
    }: _*)
  }

  /** Per [[chunkPairBands]] band, the mask of its two chunks' bits:
    * two signatures agree in band k iff `(a ^ b) & masks(k)` is 0. */
  def chunkPairMasks(maxHamming: Int, width: Int): Array[Long] =
    chunkPairBands(maxHamming, width).map { case ((li, wi), (lj, wj)) =>
      ((1L << wi) - 1) << li | ((1L << wj) - 1) << lj
    }.toArray

  /** Index of the FIRST [[chunkPairBands]] band in which two `width`-bit
    * signatures agree (64 for SimHash64, the dHash width for
    * [[graft.operators.Dedup.phashDedup]]); -1 when no band matches. A
    * colliding signature pair matches in every band whose two chunks
    * are undamaged — so keeping only the `ci == firstBand` row
    * deduplicates the pair MAP-SIDE, with no groupBy/distinct exchange
    * at all. */
  def simhashFirstBand(au: Long, bu: Long, maxHamming: Int, width: Int = 64): Int =
    firstBand(au ^ bu, chunkPairMasks(maxHamming, width))

  /** Kernel for [[SimHashFirstBand]] (also called from generated code):
    * the first band whose mask `diff` leaves clear, else -1. */
  def firstBand(diff: Long, masks: Array[Long]): Int = {
    var k = 0
    while (k < masks.length) {
      if ((diff & masks(k)) == 0L) return k
      k += 1
    }
    -1
  }

  /** First matching chunk-pair band of two SimHash-style signatures
    * of `width` bits; the band masks are a plan constant. */
  case class SimHashFirstBand(left: Expression, right: Expression, maxHamming: Int,
                              width: Int = 64)
      extends BinaryExpression {
    @transient private lazy val masks = chunkPairMasks(maxHamming, width)
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SimHashFirstBand =
      copy(left = l, right = r)

    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Integer.valueOf(firstBand(a.asInstanceOf[Long] ^ b.asInstanceOf[Long], masks))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("bandMasks", masks, "long[]")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.Hashing.firstBand($a ^ $b, $m);")
    }
  }

  /** splitmix64 of a long column with a compile-time seed — the
    * deterministic row-assignment hash behind sampling / split / mix
    * operators. Unlike `rand()`, the same row lands in the same bucket
    * on every run, every partitioning, and every engine (DuckDB replay
    * in [[graft.DuckSql.hashLongCtes]]), so samples are reproducible
    * and join-stable (a doc keeps its split across pipeline stages). */
  case class HashLong64(child: Expression, seed: Long) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): HashLong64 = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(hashLong(v.asInstanceOf[Long], seed))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Hashing.hashLong($c, ${seed}L);")
  }

  // Column-API wrappers (Spark 4: Column ↔ Expression via the bridge)
  import org.apache.spark.sql.graftbridge.ColumnBridge.{toColumn, toExpr}
  def minhash(shingles: Column, numHashes: Int = 128): Column =
    toColumn(MinHashSig(toExpr(shingles), numHashes))
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    toColumn(BandHashes(toExpr(sig), bands, rowsPerBand))
  def simhash(tokens: Column): Column = toColumn(SimHash64(toExpr(tokens)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    toColumn(SortedIntersectCount(toExpr(a), toExpr(b)))
  def hashedShingles3Col(words: Column): Column =
    toColumn(HashedShingles3(toExpr(words)))
  def hashedShinglesNCol(words: Column, ng: Int): Column =
    toColumn(HashedShinglesN(toExpr(words), ng))
  def fingerprint(text: Column): Column = toColumn(Fingerprint64(toExpr(text)))
  def hashLong64(v: Column, seed: Long): Column = toColumn(HashLong64(toExpr(v), seed))
  def simhashFirstBandCol(a: Column, b: Column, maxHamming: Int, width: Int = 64): Column =
    toColumn(SimHashFirstBand(toExpr(a), toExpr(b), maxHamming, width))
}
