package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions}

class HashingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hash64 is stable and seed-sensitive") {
    val b = "hello world".getBytes("UTF-8")
    assert(Hashing.hash64(b, 0L) == Hashing.hash64(b.clone(), 0L))
    assert(Hashing.hash64(b, 0L) != Hashing.hash64(b, 1L))
  }

  test("minhash similarity tracks Jaccard on overlapping sets") {
    val base = (1 to 100).map(i => s"sh$i")
    val near = (1 to 90).map(i => s"sh$i") ++ (101 to 110).map(i => s"sh$i") // J ≈ 0.82
    val far = (200 to 300).map(i => s"sh$i") // J = 0
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "sh")
      .withColumn("sig", Hashing.minhash(col("sh"), 128))
    val sigs = df.select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    def est(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2) / 128.0
    assert(est(sigs(1L), sigs(2L)) > 0.6)
    assert(est(sigs(1L), sigs(3L)) < 0.15)
  }

  test("simhash hamming small for near-identical token bags, large for disjoint") {
    val a = (1 to 200).map(i => s"w$i")
    val b = (1 to 195).map(i => s"w$i") ++ (300 to 304).map(i => s"w$i")
    val c = (400 to 600).map(i => s"w$i")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "toks")
      .withColumn("sh", Hashing.simhash(col("toks")))
    val m = df.select("id", "sh").as[(Long, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(1L), m(2L)) < 12)
    assert(ham(m(1L), m(3L)) > 20)
  }

  test("simhashFirstBand enumerates chunk pairs like the banding and spots the first intact pair") {
    // identical signatures agree in every chunk → band 0 (pair 0,1)
    assert(Hashing.simhashFirstBand(0x1234L, 0x1234L, 6) == 0)
    // flip one bit in chunk 0 (bits 0..7 for nChunks=8): chunks 1..7
    // intact → first pair without chunk 0 is (1,2) = index 7
    assert(Hashing.simhashFirstBand(0x1234L, 0x1234L ^ 1L, 6) == 7)
    // all chunks damaged → no band
    assert(Hashing.simhashFirstBand(0L, -1L, 6) == -1)
  }

  test("chunk-pair band column agrees with simhashFirstBand (scalacheck, fixed seed)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    // pairs of `w`-bit signatures: `b` flips either up to maxHamming
    // distinct bits of `a` (near) or one bit in every chunk (damaged);
    // chunk c spans bits [(w*c)/n, (w*(c+1))/n), n = maxHamming + 2
    def genPairs(w: Int, maxH: Int): Gen[List[(Long, Long, Boolean)]] = {
      val n = maxH + 2
      val mask = if (w == 64) -1L else (1L << w) - 1
      val near = for {
        a <- Gen.long
        k <- Gen.choose(0, maxH)
        bits <- Gen.pick(k, 0 until w)
      } yield (a & mask, bits.foldLeft(a & mask)((x, i) => x ^ (1L << i)), true)
      val damaged = for {
        a <- Gen.long
        offs <- Gen.sequence[List[Int], Int]((0 until n).map { c =>
          val (lo, hi) = ((w * c) / n, (w * (c + 1)) / n)
          Gen.choose(lo, hi - 1)
        })
      } yield (a & mask, offs.foldLeft(a & mask)((x, i) => x ^ (1L << i)), false)
      Gen.listOfN(40, Gen.oneOf(near, damaged))
    }
    for (w <- Seq(16, 64); maxH <- Seq(2, 6)) {
      val p = Prop.forAll(genPairs(w, maxH)) { pairs =>
        val sigs = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val bands = sigs.toDF("sig")
          .select(col("sig"), Hashing.chunkPairBandsCol(col("sig"), maxH, w).as("b"))
          .as[(Long, Seq[Long])].collect().toMap
        pairs.forall { case (a, b, isNear) =>
          val first = bands(a).zip(bands(b)).indexWhere(x => x._1 == x._2)
          val kernel = Hashing.simhashFirstBand(a, b, maxH, w)
          val ok = first == kernel && (if (isNear) first >= 0 else first == -1)
          if (!ok) println(s"w=$w maxH=$maxH a=$a b=$b near=$isNear first=$first kernel=$kernel")
          ok
        }
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4)
        .withInitialSeed(Seed(20261019L)), p)
      assert(res.passed, s"w=$w maxH=$maxH: ${res.status}")
    }
  }

  test("fingerprint distinguishes texts; codegen and interpreted agree") {
    val df = Seq((1L, "alpha beta"), (2L, "alpha betb")).toDF("id", "text")
    val viaPlan = df.select(col("id"), Hashing.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(viaPlan(1L) != viaPlan(2L))
    // interpreted path (direct eval) must equal the codegen'd plan
    assert(viaPlan(1L) == Hashing.hash64("alpha beta".getBytes("UTF-8"), 3L))
  }

  test("shingles3 matches expected 1-based windows") {
    val df = Seq((1L, "a b c d")).toDF("id", "text")
    val sh = df.select(TextFunctions.shingles3(TextFunctions.tokens(col("text"))))
      .as[Seq[String]].head()
    assert(sh.toSet == Set("a_b_c", "b_c_d"))
  }
}
