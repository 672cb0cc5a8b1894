package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis operators (SURVEY §2 D32).
  *
  * Web-scale training corpora lean on link analysis for document
  * quality (the Common-Crawl lineage of every large pretraining set
  * uses harmonic/PageRank-centrality-derived seed quality); a
  * 100 TB-ready engine needs the iterative-graph shape in-plan:
  * per-iteration cost = one edge-by-src join + one dst-keyed
  * aggregate, both key-hash exchanges over 16-byte rows — never an
  * adjacency matrix, never driver-side graph state.
  *
  * Determinism (the k-means recipe applied to graphs): ranks are
  * INTEGER mass units, damping is exact integer arithmetic
  * (`base + (85·Σ) div 100`), contributions floor-divide by
  * out-degree. Integer sums are order-independent, so the whole
  * iteration — unlike a float PageRank, whose partition-order sum
  * rounding diverges across engines — replays bit-identically in the
  * DuckDB oracle (3 unrolled iterations in one statement).
  */
object Graph {

  /** Deterministic integer PageRank.
    *
    * `edges`: (src, dst) distinct pairs; `nodes`: (node) — the rank
    * domain (nodes absent from `edges` keep the base rank).
    * `initRank` mass units per node; per iteration
    * `rank'(v) = initRank·15/100 + (85 · Σ_{u→v} (rank(u) div outdeg(u))) div 100`.
    *
    * Floor-division loses ≤ outdeg(u) units per node per iteration and
    * dangling-node mass retires entirely (no redistribution) — both
    * deterministic, both irrelevant at `initRank` ≥ 10⁹ (relative
    * error ≤ 10⁻⁶ per iteration, while float PageRank carries ~10⁻¹⁶
    * nondeterministically). Overflow-safe while
    * 85 · |nodes| · initRank < 2⁶³.
    *
    * The edge list (with out-degrees attached once) is persisted
    * across iterations — the k-means lesson: an uncached iterative
    * frame re-derives from the source scan every round. Rank frames
    * chain linearly (each referenced once), so no lineage truncation
    * is needed (contrast [[Dedup.connectedComponents]], whose jump
    * step references its frame twice and must checkpoint). The final
    * ranks are node-sized, so materializing them here
    * ([[Materialize.eager]]) is what the caller's first action would
    * do anyway, and it frees the edge cache before the call returns. */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int,
               initRank: Long = 1000000000L): DataFrame = Materialize.eager { s =>
    require(iters >= 1, "pageRank: iters >= 1")
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // pre-partitioned by the per-iteration join key (r18): ranks
    // attach by src every round, and the rank chain is one lazy plan
    // whose per-iteration joins would each re-shuffle the edge cache
    // (ReusedExchange only fires on identical subplans — the
    // rank-side differs per iteration and AQE replans each stage);
    // hashpartitioning(src) on the cached frame lets every iteration
    // skip the edge-side exchange outright
    val linked = s.persist(edges.join(outdeg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src")))
    val base = initRank * 15L / 100L
    var ranks = nodes.select(col("node"), lit(initRank).as("rank"))
    for (_ <- 1 to iters) {
      val sums = linked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(sc, 0L)) div 100")).as("rank"))
    }
    ranks
  }
}
