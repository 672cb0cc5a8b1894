package graft

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Hashing
import graft.operators.Dedup

/** Equivalence + scale-hazard tests for the near-dup operators:
  *
  *  - SimHash banding must be LOSSLESS for the configured radius:
  *    chunk-pair banding guarantees every pair within `maxHamming`
  *    shares a band (pigeonhole over maxHamming+2 chunks). Verified
  *    against a brute-force all-pairs popcount at sf0.001.
  *  - The exact-duplicate collapse inside minhashLsh/simhash must make
  *    an identical-document flood (the classic boilerplate mega-bucket
  *    that blows up naive LSH with k² pair expansion) complete with the
  *    exact same per-doc rollup the naive computation would produce.
  *
  * The operators under test return lazy frames over plain `persist()`
  * and leave the release to their caller, so every test and every
  * property case clears the cache after itself, as the harnesses do.
  */
class DedupEquivalenceSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  override def afterEach(): Unit = spark.catalog.clearCache()

  private val sf = "/root/testdata/sf0.001"

  test("simhash banded n_dup equals brute-force all-pairs hamming count") {
    val docs = Tables.documents(spark, sf)
    val decoded = graft.multimodal.Multimodal.decodeFeatures(
      graft.multimodal.Multimodal.mediaFromDocuments(docs), dim = 65).toDF()
      .select("media_id", "features")
    // the decoded media hold no near-dups, so plant twins: raising
    // feature k above its neighbours flips at most dHash bits k-1 and k
    def bumped(ks: Column*): Column = transform(col("features"), (f, i) =>
      when(ks.map(i === _).reduce(_ || _), lit(2.0f)).otherwise(f))
    val id = col("media_id")
    val media = decoded
      .unionByName(decoded.where(id % 3 === 0)
        .select((id + 1000000L).as("media_id"), bumped(id % 63 + 1).as("features")))
      .unionByName(decoded.where(id % 7 === 0)
        .select((id + 2000000L).as("media_id"),
          bumped(id % 31 + 1, id % 31 + 33).as("features")))
      .unionByName(decoded.where(id % 11 === 0)
        .select((id + 3000000L).as("media_id"), col("features")))
    // SimHash64 over text, and the production 64-bit dHash over media
    val inputs = Seq(
      ("simhash", 6, Dedup.simhash(docs, 6).select("doc_id", "sh64", "n_dup", "keep")),
      ("phashDedup", 2, Dedup.phashDedup(media, dim = 64, maxHamming = 2, wrap = false)
        .select("media_id", "ph", "n_dup", "keep")))
    for ((name, maxH, frame) <- inputs) {
      val out = frame.as[(Long, Long, Long, Int)].collect()
      val sh = out.map(r => r._1 -> r._2).toMap
      // brute force over all pairs in the test (≤ 800 rows → ≤ 320k pairs)
      val ids = sh.keys.toArray.sorted
      val bruteDup = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      val bruteMinDup = collection.mutable.Map[Long, Long]()
      for {
        i <- ids.indices
        j <- (i + 1) until ids.length
        if java.lang.Long.bitCount(sh(ids(i)) ^ sh(ids(j))) <= maxH
      } {
        bruteDup(ids(i)) += 1; bruteDup(ids(j)) += 1
        bruteMinDup.updateWith(ids(j))(m => Some(m.fold(ids(i))(math.min(_, ids(i)))))
      }
      assert(bruteDup.values.sum > 0, s"$name: the input holds near-dup rows")
      out.foreach { case (id, _, nDup, keep) =>
        assert(nDup == bruteDup(id), s"$name $id: banded n_dup $nDup != brute ${bruteDup(id)}")
        assert(keep == (if (bruteMinDup.contains(id)) 0 else 1), s"$name $id keep")
      }
    }
  }

  test("minhashLsh mega-bucket: 10k identical docs collapse, exact rollup, no blowup") {
    val n = 10000
    val flood = spark.range(n)
      .select(col("id").as("doc_id"),
        lit("the same boilerplate text repeated over and over in every single doc").as("text"),
        lit(68).as("n_chars"))
    val distinctTail = Seq(
      (100000L, "a completely different document about spark partitions and shuffles", 68),
      (100001L, "yet another unrelated text mentioning catalyst rules and codegen", 64)
    ).toDF("doc_id", "text", "n_chars")
    val t0 = System.nanoTime()
    val out = Dedup.minhashLsh(flood.unionAll(distinctTail))
      .as[(Long, Long, Long, Int)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length == n + 2)
    val byId = out.map(r => r._1 -> r).toMap
    // every flood member: 9999 verified dups, only doc 0 kept
    assert(byId(0L) == ((0L, (n - 1).toLong, (n - 1).toLong, 1)))
    assert(byId(1L) == ((1L, (n - 1).toLong, (n - 1).toLong, 0)))
    assert(byId((n - 1).toLong)._4 == 0)
    // distinct docs: no candidates, kept
    assert(byId(100000L) == ((100000L, 0L, 0L, 1)))
    assert(byId(100001L) == ((100001L, 0L, 0L, 1)))
    // collapse means this is seconds, not the hours a 10k² pair
    // expansion would take; generous bound for noisy hosts
    assert(secs < 120.0, s"mega-bucket took $secs s — collapse not effective?")
  }

  test("minhashLsh: short docs (<3 tokens, empty shingle set) are NOT each other's dups") {
    val docs = Seq(
      (1L, "hello world", 11),               // 2 tokens → no shingles
      (2L, "goodbye", 7),                    // 1 token → no shingles
      (3L, "ok", 2),                         // 1 token → no shingles
      (10L, "the quick brown fox jumps over the lazy dog", 43),
      (11L, "the quick brown fox jumps over the lazy dog", 43) // true dup of 10
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.minhashLsh(docs).as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    // empty-shingle docs: zero candidates, zero dups, all kept
    for (id <- Seq(1L, 2L, 3L))
      assert(out(id) == ((id, 0L, 0L, 1)), s"short doc $id must stay a singleton: ${out(id)}")
    // the real dup pair still collapses and rolls up
    assert(out(10L) == ((10L, 1L, 1L, 1)))
    assert(out(11L) == ((11L, 1L, 1L, 0)))
  }

  test("jaccardPairs: two empty-shingle docs in one length bucket are NOT a pair (0/0 is not a match)") {
    // Blocking puts docs 1 and 2 in the same n_chars bucket and both
    // have empty 3-gram shingle sets, so j = 0/0 = NaN; Spark orders
    // NaN greatest, so without the explicit guard `NaN >= 0.5` PASSES
    // and the baseline would emit a pair its own banded path (grp_ok
    // gate, test above) rejects. The guard keeps baseline ≡ banded.
    val docs = Seq(
      (1L, "hello world", 11),       // 2 tokens → no shingles
      (2L, "howdy globe", 11),       // 2 tokens → no shingles, same bucket
      (10L, "the quick brown fox jumps over the lazy dog", 43),
      (11L, "the quick brown fox jumps over the lazy dog", 43)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Dedup.jaccardPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((1L, 2L)), "empty ∩ empty must not be a dup")
    assert(pairs.contains((10L, 11L)), "the true dup pair survives the guard")
  }

  // driver-side naive reference of the FULL minhash pipeline (same
  // Hashing kernels, no collapse/rollup arithmetic) — guards the
  // group-level reconstruction against corpus shapes the sf data
  // doesn't contain (the ADVICE-high failure class)
  private def naiveMinhash(docs: Seq[(Long, String)], numHashes: Int = 128,
                           bands: Int = 16, threshold: Double = 0.5)
      : Map[Long, (Long, Long, Int)] = {
    val rows = numHashes / bands
    def shingles(text: String): Array[Long] = {
      val w = text.split(" ", -1)
      if (w.length < 3) Array.emptyLongArray
      else (0 to w.length - 3)
        .map(i => Hashing.hash64(s"${w(i)}_${w(i + 1)}_${w(i + 2)}".getBytes("UTF-8"), 3L))
        .distinct.sorted.toArray
    }
    def sig(sh: Array[Long]): Array[Long] = {
      val s = Array.fill(numHashes)(Long.MaxValue)
      sh.foreach { g =>
        val h1 = Hashing.hashLong(g, 0L); val h2 = Hashing.hashLong(g, 1L)
        var j = 0
        while (j < numHashes) { val hv = h1 + j * h2; if (hv < s(j)) s(j) = hv; j += 1 }
      }
      s
    }
    def bandKeys(s: Array[Long]): Set[(Int, Long)] = (0 until bands).map { b =>
      var acc = 17L
      (0 until rows).foreach(r => acc = acc * 31 + s(b * rows + r))
      (b, acc)
    }.toSet
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val bnd = docs.collect { case (id, _) if sh(id).nonEmpty => id -> bandKeys(sig(sh(id))) }.toMap
    val ids = docs.map(_._1).toArray
    val nCand = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val nDup = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val minDup = collection.mutable.Map[Long, Long]()
    for {
      i <- ids.indices
      j <- (i + 1) until ids.length
      a = math.min(ids(i), ids(j)); b = math.max(ids(i), ids(j))
      if bnd.contains(a) && bnd.contains(b) && bnd(a).intersect(bnd(b)).nonEmpty
    } {
      nCand(a) += 1; nCand(b) += 1
      val inter = sh(a).toSet.intersect(sh(b).toSet).size
      val jac = inter.toDouble / (sh(a).length + sh(b).length - inter)
      if (jac >= threshold) {
        nDup(a) += 1; nDup(b) += 1
        minDup.updateWith(b)(m => Some(m.fold(a)(math.min(_, a))))
      }
    }
    docs.map { case (id, _) =>
      id -> ((nCand(id), nDup(id), if (minDup.contains(id)) 0 else 1))
    }.toMap
  }

  test("minhashLsh equals the naive pipeline on arbitrary corpora (scalacheck)") {
    // tiny vocab + short lengths → dup groups, near-dups, and <3-token
    // docs all occur with high probability
    val genDocs: Gen[List[String]] = Gen.listOfN(22,
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "x"))
          .map(_.mkString(" "))))
    val p = Prop.forAll(genDocs) { texts =>
      try {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        val df = docs.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
        val got = Dedup.minhashLsh(df).as[(Long, Long, Long, Int)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        val want = naiveMinhash(docs)
        if (got != want) {
          println(s"texts=$texts\ngot =$got\nwant=$want")
        }
        got == want
      } finally spark.catalog.clearCache()
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), p)
    assert(res.passed, res.status.toString)
  }

  // naive verified-dup PAIR set under the same kernels — reference for
  // the minhashLshPairs group-level pair reconstitution
  private def naiveMinhashPairs(docs: Seq[(Long, String)], numHashes: Int = 128,
                                bands: Int = 16, threshold: Double = 0.5): Set[(Long, Long)] = {
    val rows = numHashes / bands
    def shingles(text: String): Array[Long] = {
      val w = text.split(" ", -1)
      if (w.length < 3) Array.emptyLongArray
      else (0 to w.length - 3)
        .map(i => Hashing.hash64(s"${w(i)}_${w(i + 1)}_${w(i + 2)}".getBytes("UTF-8"), 3L))
        .distinct.sorted.toArray
    }
    def sig(sh: Array[Long]): Array[Long] = {
      val s = Array.fill(numHashes)(Long.MaxValue)
      sh.foreach { g =>
        val h1 = Hashing.hashLong(g, 0L); val h2 = Hashing.hashLong(g, 1L)
        var j = 0
        while (j < numHashes) { val hv = h1 + j * h2; if (hv < s(j)) s(j) = hv; j += 1 }
      }
      s
    }
    def bandKeys(s: Array[Long]): Set[(Int, Long)] = (0 until bands).map { b =>
      var acc = 17L
      (0 until rows).foreach(r => acc = acc * 31 + s(b * rows + r))
      (b, acc)
    }.toSet
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val bnd = docs.collect { case (id, _) if sh(id).nonEmpty => id -> bandKeys(sig(sh(id))) }.toMap
    val ids = docs.map(_._1).toArray
    (for {
      i <- ids.indices
      j <- (i + 1) until ids.length
      a = math.min(ids(i), ids(j)); b = math.max(ids(i), ids(j))
      if bnd.contains(a) && bnd.contains(b) && bnd(a).intersect(bnd(b)).nonEmpty
      inter = sh(a).toSet.intersect(sh(b).toSet).size
      if inter.toDouble / (sh(a).length + sh(b).length - inter) >= threshold
    } yield (a, b)).toSet
  }

  test("minhashLshPairs equals the naive verified dup pair set (scalacheck)") {
    val genDocs: Gen[List[String]] = Gen.listOfN(22,
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "x"))
          .map(_.mkString(" "))))
    val p = Prop.forAll(genDocs) { texts =>
      try {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        val df = docs.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
        val got = Dedup.minhashLshPairs(df).as[(Long, Long)].collect().toSet
        val want = naiveMinhashPairs(docs)
        if (got != want) println(s"texts=$texts\ngot =$got\nwant=$want")
        got == want
      } finally spark.catalog.clearCache()
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), p)
    assert(res.passed, res.status.toString)
  }

  test("embeddingPairsLsh ⊆ embeddingPairs on real embeddings (exact-verify precision)") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Dedup.embeddingPairs(emb, 0.4002)
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingPairsLsh(emb, 0.4002)
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), s"cosine-verified pairs can never be false: ${lsh -- brute}")
    assert(lsh.nonEmpty, "planted near-dups in the driver data must collide somewhere")
  }

  test("embeddingPairsLsh finds every planted high-cosine pair (recall on true dups)") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = (0 until 30).map(i => i.toLong -> unit())
    // partner = base + 2% gaussian noise → cos ≈ 0.9997, far above the
    // mining threshold; unrelated random 64-dim pairs sit near cos 0
    val dups = bases.map { case (id, v) =>
      (100 + id) -> v.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat)
    }
    val df = (bases ++ dups).toDF("vec_id", "embedding")
    val want = bases.map { case (id, _) => (id, 100 + id) }.toSet
    val got = Dedup.embeddingPairsLsh(df, 0.9, dim = dim)
      .as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want -- got} spurious=${got -- want}")
    // and equals the all-pairs baseline on this corpus — the D5/D5-lsh
    // analogue of the D2/D3 equivalence contract
    val brute = Dedup.embeddingPairs(df, 0.9).as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("embeddingPairsLsh mega-cluster: identical-embedding flood collapses before the band join") {
    val n = 2000
    val dim = 8
    val flood = spark.range(n).select(col("id").as("vec_id"),
      typedlit((1 to dim).map(_.toFloat)).as("embedding"))
    val distinctTail = Seq(
      (100000L, (1 to dim).map(i => -i.toFloat)),     // anti-parallel: cos = −1
      (100001L, Array.fill(dim)(0.0f).toSeq)           // zero vector: cos NaN, never pairs
    ).toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val out = Dedup.embeddingPairsLsh(flood.unionAll(distinctTail), 0.9, dim = dim)
      .as[(Long, Long)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // every member pair of the flood is present exactly once
    val floodPairs = out.filter { case (a, b) => a < n && b < n }
    assert(floodPairs.length == n.toLong * (n - 1) / 2, s"got ${floodPairs.length}")
    assert(floodPairs.forall { case (a, b) => a < b })
    assert(floodPairs.distinct.length == floodPairs.length)
    // extras may only be NaN-semantics pairs involving the zero vector
    // (Spark and DuckDB both order NaN above every value, so the
    // all-pairs baseline pairs zero-norm vectors too — the LSH path
    // must not invent anything beyond that)
    val extras = out.filterNot { case (a, b) => a < n && b < n }
    assert(extras.forall { case (a, b) => a == 100001L || b == 100001L },
      s"unexpected extras: ${extras.take(5).mkString(",")}")
    // collapse means the BAND JOIN saw 3 representatives, not 2002
    // vectors; only the output-sized pair expansion is quadratic
    assert(secs < 60.0, s"flood took $secs s — collapse not effective?")
  }

  test("lshGeometry: bits grow with measured cardinality; the recall contract caps growth") {
    // fixed points of the closed form (anchor 0.9 → p = 1 − acos/π ≈
    // 0.8564; b = ceil(ln 0.02 / ln(1 − p^r))):
    assert(Dedup.lshGeometry(500L) == (8, 6),
      "small corpora must reproduce the pre-adaptive 8×6 plan exactly")
    assert(Dedup.lshGeometry(5000L) == (17, 10))
    // rCard = 15 at 160k, but b(15) = 39 and b(14) = 33 both exceed
    // maxBands = 32 — the recall contract decrements to r = 13, b = 28
    assert(Dedup.lshGeometry(160000L) == (28, 13))
    // saturation: past ~65k distinct the geometry pins at (28, 13)
    assert(Dedup.lshGeometry(10000000000L) == (28, 13))
    // bit count is monotone non-decreasing in n
    val rs = Seq(100L, 1000L, 10000L, 100000L, 1000000L)
      .map(n => Dedup.lshGeometry(n)._2)
    assert(rs == rs.sorted, s"bit counts must not shrink with n: $rs")
    // the documented escape: a larger band budget buys back bits
    assert(Dedup.lshGeometry(10000000000L, maxBands = 128)._2 > 13)
  }

  test("embeddingPairsLshAdaptive: grown geometry still finds every planted pair") {
    val rnd = new scala.util.Random(11)
    val dim = 64
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 600 distinct vectors → lshGeometry picks (10, 7), NOT the old
    // fixed (8, 6): this corpus exercises the adaptive path end-to-end
    assert(Dedup.lshGeometry(600L) == (10, 7))
    val bases = (0 until 280).map(i => i.toLong -> unit())
    val dups = bases.take(20).map { case (id, v) =>
      (1000 + id) -> v.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat)
    }
    val tail = (0 until 300).map(i => (2000 + i).toLong -> unit())
    val df = (bases ++ dups ++ tail).toDF("vec_id", "embedding")
    assert(Dedup.distinctEmbeddingCount(df) == 600L)
    val got = Dedup.embeddingPairsLshAdaptive(df, 0.9, dim = dim)
      .as[(Long, Long)].collect().toSet
    val want = bases.take(20).map { case (id, _) => (id, 1000 + id) }.toSet
    assert(want.subsetOf(got), s"missed planted pairs: ${want -- got}")
    // exact-verify precision: equals the all-pairs baseline
    val brute = Dedup.embeddingPairs(df, 0.9).as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute), s"false pairs: ${got -- brute}")
  }

  test("incrementalNearDup equals the uncollapsed per-doc reference on the real corpus") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sf)
    val cutoff = 250L
    val engine = Dedup.incrementalNearDup(docs, cutoff)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // reference: the SAME banding primitives per doc, NO collapse —
    // this pins the collapse + group fan-out as a pure optimization
    val t = docs.select(col("doc_id"),
        Hashing.hashedShingles3Col(TextFunctions.tokens(col("text"))).as("sh"))
      .persist()
    val banded = t.filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        posexplode(Hashing.bandHashes(Hashing.minhash(col("sh"), 128), 16, 8))
          .as(Seq("band", "bh")))
    val cand = banded.filter(col("doc_id") >= cutoff)
      .select(col("doc_id").as("b_id"), col("band"), col("bh"))
      .join(banded.filter(col("doc_id") < cutoff)
        .select(col("doc_id").as("s_id"), col("band"), col("bh")), Seq("band", "bh"))
      .select("b_id", "s_id").distinct()
    val nd = cand
      .join(t.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .join(t.select(col("doc_id").as("s_id"), col("sh").as("s_sh")), Seq("s_id"))
      .withColumn("i", Hashing.sortedIntersectCount(col("b_sh"), col("s_sh")))
      .withColumn("j",
        col("i").cast("double") / (size(col("b_sh")) + size(col("s_sh")) - col("i")))
      .filter(col("j") >= 0.5)
      .groupBy(col("b_id")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.unpersist(blocking = false)
    val batchIds = docs.where(col("doc_id") >= cutoff).select("doc_id").as[Long].collect()
    assert(engine.keySet == batchIds.toSet)
    batchIds.foreach { id =>
      val want = nd.getOrElse(id, 0L)
      assert(engine(id) == ((want, if (want == 0) 1 else 0)), s"doc $id")
    }
    assert(nd.nonEmpty, "driver data plants cross-cutoff near-dups")
  }

  test("incrementalNearDup flood: identical batch docs collapse, inherit one verdict") {
    val n = 5000
    val snapshot = Seq(
      (1L, "the same boilerplate text repeated over and over in every single doc today"),
      (2L, "an unrelated snapshot document about catalyst and codegen internals")
    ).toDF("doc_id", "text")
    val flood = spark.range(n)
      .select((col("id") + 100L).as("doc_id"),
        lit("the same boilerplate text repeated over and over in every single doc today").as("text"))
    val t0 = System.nanoTime()
    val out = Dedup.incrementalNearDup(snapshot.unionByName(flood), cutoff = 100L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.size == n)
    // every flood member is an exact dup of snapshot doc 1 → one
    // verified snapshot dup each, none kept; ONE representative went
    // through the band join and the verify
    assert(out.valuesIterator.forall(_ == ((1L, 0))))
    assert(secs < 60.0, s"flood took $secs s — per-side collapse not effective?")
  }

  test("simhash mega-bucket: identical docs collapse with exact rollup") {
    val n = 5000
    val flood = spark.range(n)
      .select(col("id").as("doc_id"),
        lit("identical tokens everywhere in this flood of boilerplate docs").as("text"),
        lit(61).as("n_chars"))
    val out = Dedup.simhash(flood).as[(Long, Long, Long, Long, Int)].collect()
    assert(out.length == n)
    assert(out.forall(_._4 == (n - 1).toLong)) // n_dup
    assert(out.count(_._5 == 1) == 1) // exactly one keeper
    assert(out.find(_._5 == 1).get._1 == 0L)
  }
}
