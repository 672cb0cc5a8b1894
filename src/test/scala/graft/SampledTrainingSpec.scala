package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Cluster, Corpus, Sampling}

/** Sample-bounded training (the 100 TB trainer posture,
  * `git show 6c9821a:SURVEY.md` §14): codebooks and LM counts train
  * on a deterministic splitmix64 hash-sample; assignment/scoring still
  * cover the full corpus. The bit-exact semantics are graded by the
  * DuckDB oracles (kmeans_assign, ann_*, lm_score at trainPct = 25);
  * these specs pin
  * the CONTRACT — full coverage, seed-from-full-corpus codebook
  * identity, determinism, and the add-one smoothing floor for
  * sample-unseen n-grams. */
class SampledTrainingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("kmeansAssign with sampled training still assigns EVERY vector, deterministically") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val a1 = Cluster.kmeansAssign(emb, k = 4, iters = 2, trainPct = 50)
      .as[(Long, Long)].collect().sortBy(_._1)
    val a2 = Cluster.kmeansAssign(emb, k = 4, iters = 2, trainPct = 50)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(a1.length == n, "assignment covers the full corpus, not the sample")
    assert(a1.sameElements(a2), "hash-sampled training replays bit-identically")
  }

  test("codebook identity (the seed ids) is independent of trainPct") {
    val emb = Tables.embeddings(spark, sf)
    val (full, _) = Cluster.kmeansCentroids(emb, k = 4, iters = 1)
    val (sampled, _) = Cluster.kmeansCentroids(emb, k = 4, iters = 1, trainPct = 25)
    assert(full.sameElements(sampled), "seeds come from the full corpus at any trainPct")
  }

  test("sampled training == full training ON the sample when seeds coincide") {
    val emb = Tables.embeddings(spark, sf)
    val k = 2
    // both trainings seed from vec_id < k; pick a hash seed under which
    // the lowest corpus ids land IN the 50% bucket — then the two paths
    // see identical seeds and identical update statistics, so the
    // codebooks must match float-for-float
    val hashSeed = (0L until 64L).find { s =>
      (0 until k).forall(id =>
        ((graft.functions.Hashing.hashLong(id.toLong, s) >>> 1) % 100) < 50)
    }.get
    val sample = emb.where(Sampling.bucket(col("vec_id"), hashSeed) < 50)
    val (_, viaSample) = Cluster.kmeansCentroids(emb, k, iters = 2,
      trainPct = 50, seed = hashSeed)
    val (_, viaFull) = Cluster.kmeansCentroids(sample, k, iters = 2)
    assert(viaSample.zip(viaFull).forall { case (a, b) => a.sameElements(b) })
  }

  test("pqCodebooks sampled: one vector sample shared by all subspaces; encode covers all") {
    val emb = Tables.embeddings(spark, sf)
    val books = Ann.pqCodebooks(emb, dim = 64, m = 4, ksub = 4, iters = 1, trainPct = 50)
    assert(books.length == 4)
    // all m codebooks carry the same seed ids (one corpus-wide seed set)
    assert(books.map(_._1.toSeq).distinct.size == 1)
    val encoded = Ann.pqEncodeWith(emb, books, dim = 64)
    assert(encoded.count() == emb.count(), "encoding is never sample-bounded")
  }

  test("lmBigramScore sampled: full scoring coverage, identical n_bigrams, smoothing floor for unseen") {
    val docs = Tables.documents(spark, sf)
    val full = Corpus.lmBigramScore(docs)
      .select(col("doc_id"), col("n_bigrams")).as[(Long, Long)].collect().toMap
    val sampled = Corpus.lmBigramScore(docs, trainPct = 25)
      .select(col("doc_id"), col("n_bigrams"), col("sum_fp"))
      .as[(Long, Long, Long)].collect()
    assert(sampled.length == full.size, "every doc is scored under the sampled LM")
    // n_bigrams counts the doc's own bigrams — training sample must not change it
    sampled.foreach { case (id, nb, _) => assert(nb == full(id)) }
    // a doc OUTSIDE the sample with bigrams unseen inside it still gets a
    // positive score (the add-one floor — unseen never zeroes or drops)
    assert(sampled.forall { case (_, nb, sumFp) => nb == 0 || sumFp > 0 })
  }
}
