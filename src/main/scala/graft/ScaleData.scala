package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver testdata for scale sweeps.
  *
  * [[ScaleData.generate]] writes a `factor`-times-larger copy of
  * every table, built as `factor` key-shifted replicas in ONE scan per
  * table (`explode(sequence(...))`, no self-unions):
  *
  *  - every key column is shifted by `copy * stride(table)` where the
  *    stride is `max(key)+1` — the SAME stride for a key wherever it
  *    appears (`o_custkey` shifts by customer's stride), so referential
  *    integrity holds exactly and every join's selectivity is preserved
  *    while all fact/dim cardinalities grow by `factor`;
  *  - `region`/`nation` stay fixed (TPC-H semantics: constant-size dims
  *    at any SF) — the broadcast-ability the plans rely on is real;
  *  - `events.ts` keeps its raw encoding and values: the time RANGE is
  *    fixed and per-window density grows by `factor`, which is the
  *    hard direction for windowed/sessionize/gap-fill plans;
  *  - `documents.text` gets a per-copy suffix: copies are NEAR-dups of
  *    each other (distinct fingerprints, overlapping shingles), so dup
  *    clusters grow by `factor` — the realistic crawl-scale stress for
  *    the LSH/banding paths and their fan-out caps;
  *  - `embeddings.embedding` gets a tiny per-copy first-component
  *    nudge: geometry intact, exact-dup collapse broken, ANN corpus
  *    genuinely `factor`× larger.
  *
  * Scale-sweep tooling only — correctness oracles always run on the
  * driver's own files, never on scaled copies.
  */
object ScaleData {

  /** One scan → `factor` key-shifted replicas. `shifts` maps each key
    * column to the stride of the table that OWNS the key. */
  private def replicate(df: DataFrame, factor: Int, shifts: Map[String, Long],
                        extra: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame = {
    val withCopy = df.withColumn("__copy", explode(sequence(lit(0L), lit(factor - 1L))))
    val shifted = shifts.foldLeft(withCopy) { case (d, (k, stride)) =>
      d.withColumn(k, col(k) + col("__copy") * lit(stride))
    }
    extra.foldLeft(shifted) { case (d, (c, e)) => d.withColumn(c, e) }.drop("__copy")
  }

  /** Write the factor-times replica of every table under `out` (called
    * by [[ScaleBench]] to materialize sweep inputs on demand). */
  def generate(spark: SparkSession, in: String, out: String, factor: Int): Unit = {
    def raw(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name done")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).head.getLong(0) + 1L

    val (cust, supp, part0, ord, li, ev, docs, emb) =
      (raw("customer"), raw("supplier"), raw("part"), raw("orders"),
       raw("lineitem"), raw("events"), raw("documents"), raw("embeddings"))
    val (kc, ks, kp, ko) =
      (stride(cust, "c_custkey"), stride(supp, "s_suppkey"),
       stride(part0, "p_partkey"), stride(ord, "o_orderkey"))

    write("region", raw("region"))
    write("nation", raw("nation"))
    write("customer", replicate(cust, factor, Map("c_custkey" -> kc)))
    write("supplier", replicate(supp, factor, Map("s_suppkey" -> ks)))
    write("part", replicate(part0, factor, Map("p_partkey" -> kp)))
    write("orders", replicate(ord, factor, Map("o_orderkey" -> ko, "o_custkey" -> kc)))
    write("lineitem", replicate(li, factor,
      Map("l_orderkey" -> ko, "l_partkey" -> kp, "l_suppkey" -> ks)))
    write("events", replicate(ev, factor,
      Map("event_id" -> stride(ev, "event_id"), "user_id" -> stride(ev, "user_id"))))
    write("documents", replicate(docs, factor, Map("doc_id" -> stride(docs, "doc_id")),
      extra = Seq("text" -> concat(col("text"), lit(" c"), col("__copy").cast("string")))))
    write("embeddings", replicate(emb, factor, Map("vec_id" -> stride(emb, "vec_id")),
      extra = Seq("embedding" -> expr(
        "transform(embedding, (x, j) -> IF(j = 0, CAST(x + __copy * 0.0003D AS FLOAT), x))"))))
  }
}
