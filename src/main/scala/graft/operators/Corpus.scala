package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions}

/** Corpus-hygiene operators for training-data pipelines
  * (SURVEY §2 D16-D19): benchmark decontamination, rule-based quality
  * filtering, within-document repetition signals, and corpus-level
  * n-gram statistics. These are the "beyond the reference" operators a
  * pretraining pipeline runs between raw ingestion and dedup.
  */
object Corpus {

  /** Production default training-sample percentage for the bigram LM
    * ([[lmBigramScore]]) and its hash seed — shared with the DuckDB
    * oracle builder so the SQL can never drift from the engine. */
  val LmTrainPct = 25
  val LmTrainSeed = 37L

  /** [[lmBucketScore]]'s default bucket count — shared with its
    * oracle builder call site. */
  val LmBuckets = 4096

  /** [[dsirWeights]]/[[dsirResample]]'s default bucket count — shared
    * with the oracle builder call sites. */
  val DsirBuckets = 1024

  /** BM25's standard free parameters (Robertson et al.'s defaults) and
    * the Gopher gate's token bounds — named so the oracle SQL strings
    * interpolate the SAME values the Spark plans use (a changed
    * default would otherwise silently break the hash-match with no
    * compile-time tie). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val GopherMinTok = 10
  val GopherMaxTok = 100000

  /** Train/eval contamination check: for every corpus document, count
    * how many of its distinct word 3-gram shingles also occur in the
    * benchmark/eval set (`benchPred` rows), and flag docs at or above
    * `minHits` shared shingles.
    *
    * Scale shape: the eval set is dim-sized by construction (benchmarks
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle set broadcasts; the corpus is scanned ONCE — shingles are
    * computed in one codegen'd pass ([[Hashing.HashedShingles3]], 8-byte
    * hashed keys so the probe carries no strings), exploded, probed
    * against the broadcast, and re-aggregated by doc in a single
    * narrow-row exchange. Hashed-shingle matching equals string
    * matching barring 64-bit collisions (same argument as the MinHash
    * pipeline, Dedup.scala).
    *
    * `ngram` controls the window width: 3 matches the engine's
    * shingle family (and the driver oracle); production
    * decontamination typically runs 13-grams — identical plan, just a
    * wider codegen'd window. */
  def decontaminate(docs: DataFrame, benchPred: Column, minHits: Int = 5,
                    ngram: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"), benchPred.as("is_bench"),
      Hashing.hashedShinglesNCol(TextFunctions.tokens(col("text")), ngram).as("sh"))
    val bench = sh.where(col("is_bench"))
      .select(explode(col("sh")).as("g")).distinct()
      .withColumn("hit", lit(1))
    // explode_outer keeps shingle-less docs (n_tok < 3) in the output
    sh.where(!col("is_bench"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode_outer(col("sh")).as("g"))
      .join(broadcast(bench), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_sh")).as("n_sh"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("contaminated", (col("n_hit") >= minHits).cast("int"))
  }

  /** C4-style rule filter: a reasons bitmask per doc (0 = keep).
    * Bit 0 too short, bit 1 too long, bit 2 no stopwords, bit 3
    * implausible mean word length. All comparisons are integer-exact
    * (mean-word-length > 8 is tested as `n_chars - n_tok + 1 >
    * 8·n_tok`), so the oracle matches bit-for-bit. One TokenStats
    * pass, map-only. */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val st = TextFunctions.tokenStats(TextFunctions.tokens(col("text")))
    val withStats = docs.select(col("doc_id"), col("n_chars"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_tok").as("n_tok"),
        (col("st.n_the") + col("st.n_a")).as("n_stop"),
        col("n_chars"))
    val reasons =
      when(col("n_tok") < 10, 1).otherwise(0) +
        when(col("n_tok") > 1000, 2).otherwise(0) +
        when(col("n_stop") === 0, 4).otherwise(0) +
        when(col("n_chars") - col("n_tok") + 1 > col("n_tok") * 8, 8).otherwise(0)
    withStats
      .withColumn("reasons", reasons.cast("int"))
      .withColumn("kept", (col("reasons") === 0).cast("int"))
      .drop("n_stop", "n_chars")
  }

  /** The COMBINED Gopher quality gate (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Appendix A1.1) as one reasons bitmask — the production
    * rule set that [[qualityFilter]] (C4-style) and [[repetition]]
    * publish the raw signals for: token-count bounds, mean-word-length
    * band, alphabetic-word fraction ≥ 0.8, ≥ 2 distinct stopwords,
    * duplicate-token fraction ≤ 0.3, duplicate-bigram fraction ≤ 0.4,
    * dominant-token fraction ≤ 0.2. Bits (1,2,4,8,16,32,64,128) in
    * that order; `keep = reasons == 0`.
    *
    * Every gate is an INTEGER comparison (`10·(n_tok−n_uniq) > 3·n_tok`
    * instead of `dup_frac > 0.3` — same predicate, no float), so the
    * mask is bit-identical in any engine. Thresholds follow the paper
    * except the token floor (`minTok`, default 10 vs Gopher's 50 —
    * the synthetic corpus runs shorter than web documents; the knob is
    * the parameter). The stopword list is the corpus's fake-stopword
    * set (see [[TextFunctions.tokenStatsKernel]]), counted as DISTINCT
    * stopwords present, per the paper. NULL text fails CLOSED
    * (reason bit 256). Entirely map-side: one codegen'd RepStats +
    * TokenStats pass (alphabetic-word counting lives in the kernel —
    * no interpreted HOF) — no shuffle at any scale. */
  def gopherFilter(docs: DataFrame, minTok: Int = GopherMinTok,
                   maxTok: Int = GopherMaxTok): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val base = docs.select(col("doc_id"), col("n_chars"),
      TextFunctions.repStats(toks).as("r"),
      TextFunctions.tokenStats(toks).as("s"))
      .select(col("doc_id"), col("n_chars"),
        col("r.n_tok").as("n_tok"), col("r.n_uniq").as("n_uniq"),
        col("r.top_n").as("top_n"), col("r.n_uniq_bi").as("n_uniq_bi"),
        ((col("s.n_the") > 0).cast("int") + (col("s.n_a") > 0).cast("int") +
          (col("s.n_data") > 0).cast("int") + (col("s.n_join") > 0).cast("int"))
          .as("n_stop_kinds"),
        col("s.n_alpha").as("n_alpha"))
    // total word chars under the single-space-joined contract
    val chars = col("n_chars") - (col("n_tok") - 1)
    val reasons =
      when(col("n_tok") < minTok, 1).otherwise(0) +
        when(col("n_tok") > maxTok, 2).otherwise(0) +
        when(chars < col("n_tok") * 3 || chars > col("n_tok") * 10, 4).otherwise(0) +
        when(col("n_alpha") * 5 < col("n_tok") * 4, 8).otherwise(0) +
        when(col("n_stop_kinds") < 2, 16).otherwise(0) +
        when((col("n_tok") - col("n_uniq")) * 10 > col("n_tok") * 3, 32).otherwise(0) +
        when(col("n_tok") > 1 &&
          (col("n_tok") - 1 - col("n_uniq_bi")) * 10 > (col("n_tok") - 1) * 4, 64)
          .otherwise(0) +
        when(col("top_n") * 5 > col("n_tok"), 128).otherwise(0)
    base
      // fail CLOSED on NULL text: every gate comparison is NULL, so
      // the bit sums would all take their otherwise(0) branch and a
      // record with no text at all would pass a quality filter —
      // reason 256 rejects it explicitly
      .withColumn("reasons",
        when(col("n_tok").isNull, 256).otherwise(reasons).cast("int"))
      .withColumn("keep", (col("reasons") === 0).cast("int"))
      .select(col("doc_id"), col("n_tok"), col("reasons"), col("keep"))
  }

  /** Gopher-style repetition signals per doc, from ONE codegen'd pass
    * ([[TextFunctions.RepStats]]): duplicate-token fraction,
    * dominant-token fraction gate, duplicate-bigram fraction. Entirely
    * map-side — repetition is a within-row property, so there is no
    * shuffle at any scale. */
  def repetition(docs: DataFrame): DataFrame = {
    val st = TextFunctions.repStats(TextFunctions.tokens(col("text")))
    docs.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_tok").as("n_tok"),
        col("st.n_uniq").as("n_uniq"),
        col("st.top_n").as("top_n"),
        col("st.n_uniq_bi").as("n_uniq_bi"))
      // NO round(): `1 − a/b` on exact integers is one correctly-
      // rounded division + one exactly-rounded subtraction — already
      // bit-identical in every IEEE engine. round(…, 6) was the same
      // latent cross-engine boundary bug the sf0.1 sweep caught in
      // quality_score (Spark rounds the decimal expansion, DuckDB the
      // scaled float) — removed before it could fire here.
      .withColumn("tok_rep",
        lit(1.0) - col("n_uniq").cast("double") / col("n_tok"))
      .withColumn("bi_rep",
        when(col("n_tok") > 1,
          lit(1.0) - col("n_uniq_bi").cast("double") / (col("n_tok") - 1))
          .otherwise(0.0))
      .withColumn("flagged", (col("top_n") * 5 >= col("n_tok")).cast("int"))
  }

  /** Context-window chunking: split each document's token stream into
    * fixed-size windows of `maxTok` tokens with `overlap` tokens of
    * context carried between consecutive chunks (stride =
    * maxTok − overlap) — the standard pre-tokenization shaping step
    * for a fixed-context trainer. Pure map-side generate: windows are
    * arithmetic on each row's own token array, nothing shuffles at any
    * scale. Chunk count is ⌈max(1, n_tok − overlap) / stride⌉ so every
    * doc (even empty) emits ≥ 1 chunk and the final partial window is
    * kept. Output: (doc_id, chunk_idx, chunk_tok, chunk_text),
    * totally ordered by (doc_id, chunk_idx). */
  def chunk(docs: DataFrame, maxTok: Int = 64, overlap: Int = 8): DataFrame =
    chunkBy(docs, TextFunctions.tokens(col("text")), " ", maxTok, overlap)

  /** [[chunk]] with TOKENIZER-exact windows: the token stream is the
    * corpus-trained BPE piece sequence ([[graft.functions.Bpe]]), so
    * `maxTok` is a real model-context budget, not a whitespace proxy.
    * Chunk text is the pieces concatenated (pieces carry their own
    * leading spaces — chunking in token space, decoding back to text,
    * the way context-window shaping actually runs). Same pure
    * map-side generate; the merge table rides as a plan constant. */
  def chunkBpe(docs: DataFrame, merges: graft.functions.BpeMerges,
               maxTok: Int = 64, overlap: Int = 8): DataFrame =
    chunkBy(docs, graft.functions.Bpe.bpeEncode(col("text"), merges), "",
      maxTok, overlap)

  private def chunkBy(docs: DataFrame, toks: Column, sep: String,
                      maxTok: Int, overlap: Int): DataFrame = {
    require(maxTok > overlap && overlap >= 0,
      s"chunk: need maxTok ($maxTok) > overlap ($overlap) >= 0")
    val stride = maxTok - overlap
    docs
      .select(col("doc_id"), toks.as("w"))
      .withColumn("n_chunks",
        greatest(lit(1L),
          ceil((size(col("w")) - lit(overlap)).cast("double") / stride).cast("long")))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("chunk",
        slice(col("w"), (col("chunk_idx") * stride + 1).cast("int"), lit(maxTok)))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        size(col("chunk")).as("chunk_tok"),
        array_join(col("chunk"), sep).as("chunk_text"))
  }

  /** PII scrubbing: redact emails, US-style phone numbers and IPv4
    * addresses with typed placeholders and count the redactions —
    * the minimum-viable privacy pass a public-corpus pipeline runs
    * before anything else. Patterns stay in the regex subset Java and
    * RE2 share (no backreferences, no lookaround), so the operator is
    * oracle-replayable; swap in a richer ruleset the same way. Pure
    * map-side. Output: (doc_id, n_email, n_phone, n_ip, scrubbed). */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    // order matters: emails first (their local part can contain digit
    // runs), then phones, then IPs over the already-scrubbed text
    val afterEmail = regexp_replace(col(textCol), email, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, phone, "<PHONE>")
    docs.select(
      col("doc_id"),
      regexp_count(col(textCol), lit(email)).cast("int").as("n_email"),
      regexp_count(afterEmail, lit(phone)).cast("int").as("n_phone"),
      regexp_count(afterPhone, lit(ip)).cast("int").as("n_ip"),
      regexp_replace(afterPhone, ip, "<IP>").as("scrubbed"))
  }

  /** Greedy sequence packing: assign each document a `pack_id` and
    * token offset inside fixed `budgetTok` training sequences — the
    * step after [[chunk]] that turns a corpus into constant-size
    * batches. A doc belongs to the pack where its tokens BEGIN;
    * boundary docs spill into the next pack's budget (the streaming-
    * packer convention — exact first-fit bin packing is inherently
    * serial and data-dependent, and at 100 TB nobody runs it).
    *
    * Packing is per-`shard` (the split/domain column the training job
    * already groups by), in deterministic (shard, doc_id) order — so
    * the window parallelizes across shards, re-runs produce identical
    * packs on any partitioning, and the only exchange is the hash
    * partition by shard. Output: (doc_id, shard, n_tok, pack_id,
    * pack_off). */
  def packSequences(docs: DataFrame, budgetTok: Int, shard: Column): DataFrame =
    packSequencesBy(docs, budgetTok, shard,
      size(TextFunctions.tokens(col("text"))))

  /** [[packSequences]] with TOKENIZER-exact budgets: per-doc length is
    * the corpus-trained BPE token count, so `budgetTok` is a real
    * training-sequence budget. Same single-shard-exchange shape. */
  def packSequencesBpe(docs: DataFrame, budgetTok: Int, shard: Column,
                       merges: graft.functions.BpeMerges): DataFrame =
    packSequencesBy(docs, budgetTok, shard,
      graft.functions.Bpe.bpeCount(col("text"), merges).cast("long"))

  private def packSequencesBy(docs: DataFrame, budgetTok: Int, shard: Column,
                              nTok: Column): DataFrame = {
    require(budgetTok > 0, s"packSequences: budgetTok=$budgetTok must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), shard.as("shard"), nTok.as("n_tok"))
      .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr(s"tok_before div $budgetTok").as("pack_id"),
        (col("tok_before") % budgetTok).as("pack_off"))
  }

  /** Corpus-level top-k adjacent bigrams by document frequency
    * (boilerplate / template discovery). Distinct-per-doc bigrams
    * explode into one narrow `(ngram)` exchange with map-side combine;
    * the global top-k is a TakeOrdered (no single-partition window).
    * Total (df desc, ngram asc) order makes the k-boundary unique, so
    * the result SET is deterministic. */
  def topNgrams(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(
        TextFunctions.distinctBigrams(TextFunctions.tokens(col("text")))).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(k)

  /** Text normalization — the pre-tokenization hygiene stage every
    * pipeline runs before hashing/shingling (a corpus deduped on raw
    * text misses dups that differ only in case or spacing): lowercase,
    * strip control characters, collapse whitespace runs to single
    * spaces, trim. Pure map-side; patterns live in the Java∩RE2 regex
    * subset so the operator is oracle-replayable. ASCII lowering is
    * engine-identical; full Unicode case folding is locale-dependent
    * and would need a pinned collator on both sides. Output:
    * (doc_id, norm_text, n_norm_chars). */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val noCtl = regexp_replace(col(textCol), "[\\x00-\\x1F\\x7F]", " ")
    val collapsed = regexp_replace(noCtl, " {2,}", " ")
    docs.select(
      col("doc_id"),
      trim(lower(collapsed)).as("norm_text"))
      .withColumn("n_norm_chars", length(col("norm_text")))
  }

  /** URL canonicalization (SURVEY §2 D33) — the step BEFORE URL-level
    * dedup in every web-corpus pipeline: the same page arrives as
    * `HTTPS://Site.com/a/?utm_source=x`, `https://site.com/a` and
    * `https://site.com/a/#frag`, and text dedup pays for every copy
    * that URL dedup would have dropped for free. Canonical form:
    * fragment stripped, `utm_*` tracking params dropped (dangling
    * `?`/`&` repaired), scheme+host lowercased (the PATH stays
    * case-sensitive — per-spec, only the authority is
    * case-insensitive), trailing slash removed. Emits the host as a
    * column (the per-domain stratum key `domain_mix`/`corpus_stats`
    * consume). Map-only; every pattern in the Java∩RE2 subset so the
    * chain — order and all — replays in the oracle verbatim. */
  def normalizeUrls(urls: DataFrame, urlCol: String = "url"): DataFrame = {
    val noFrag = regexp_replace(col(urlCol), "#.*", "")
    val noUtm = regexp_replace(
      regexp_replace(noFrag, "utm_[^&#]*&", ""), "[?&]utm_[^&#]*", "")
    val lowHead = concat(
      lower(regexp_extract(noUtm, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)),
      regexp_replace(noUtm, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""))
    val norm = regexp_replace(regexp_replace(lowHead, "/\\?", "?"), "/$", "")
    urls
      .withColumn("url_norm", norm)
      .withColumn("host", regexp_extract(col("url_norm"), "://([^/?#]*)", 1))
  }

  /** Per-document term-frequency table: one row per distinct
    * (doc_id, term) with its in-document count. The shared first stage
    * of [[tfidfTopK]] and [[termRarity]].
    *
    * Scale shape: a document's tokens all live in ONE input row, so
    * the partial HashAggregate finishes every (doc, term) group
    * map-side — the exchange carries the already-combined tf rows
    * (result-sized), never one row per token occurrence. */
  private def termFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Per-document top-`k` distinctive terms by tf-idf ranking
    * (keyword extraction / domain signature — the per-doc twin of
    * [[topNgrams]]' corpus-level boilerplate discovery).
    *
    * Scoring uses the LINEAR-idf variant: score = tf / df. The
    * classical tf·ln(N/df) inserts a transcendental whose last-ulp
    * rounding differs across engines (the same class of latent bug the
    * sf0.1 sweep caught in quality_score), while tf/df is ONE
    * correctly-rounded IEEE division — bit-identical everywhere — and
    * weights rarity the same direction, just with a harder idf curve.
    * Ties rank by term asc, so the per-doc top-k row set is unique.
    *
    * Scale shape: [[termFreq]] (map-side-combined tf rows) → narrow
    * (term) exchange for df → term-keyed equi-join (vocabulary-sized
    * right side; AQE picks the strategy) → per-doc top-k via
    * row_number, whose WindowGroupLimit caps each map partition at k
    * rows per doc BEFORE the exchange (the domain_mix pattern). */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreq(docs)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("term"))
      .withColumn("score", col("tf").cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rk"))
  }

  /** BM25 top-k lexical retrieval (Robertson–Spärck Jones / Okapi
    * BM25) — the keyword leg production hybrid search actually runs
    * (the RRF fusion in `Ann.hybridTopKRrf` uses shared-token count as
    * its lexical rank; this is the real scoring function behind it).
    * The first `nQueries` docs are the query set (same convention as
    * `hybrid_search_rrf`); every other doc is scored against each
    * query by `Σ_t idf(t) · tf_sat(t, d)` over shared terms, and the
    * per-query top `k` survive.
    *
    * Determinism engineering (house rules, see [[tfidfTopK]] and
    * `Sampling.weightedSample`): (a) the classical `ln`-idf is a libm
    * call whose last-ulp rounding differs across engines, so idf is
    * the RATIONAL Robertson form WITHOUT the log —
    * `(N - df + 0.5) / (df + 0.5)` — one subtraction and one division,
    * both correctly-rounded IEEE, monotone in the same direction;
    * (b) per-term contributions are quantized to fixed-point
    * (`floor(1e6 · idf · tf_sat)` as BIGINT) before the per-pair sum,
    * because a DOUBLE sum's value depends on partition order while an
    * integer sum does not. `tf_sat = tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl))` is written as `(tf·k1 + tf) / …` so both engines
    * evaluate the same float op sequence (no compile-time constant
    * folding of `k1+1` whose rounding could tie-break differently).
    * Query term multiplicity is ignored (qtf = 1, the standard
    * simplification for short queries).
    *
    * Scale shape: queries are dim-sized by construction → the distinct
    * query-term table BROADCASTS; the corpus side is [[termFreq]]
    * (map-side-combined posting rows, never one row per occurrence);
    * the probe is a term-keyed hash join; `(q, d)` partial sums
    * combine map-side; the per-query top-k runs through row_number
    * whose WindowGroupLimit caps every map partition at k rows per
    * query BEFORE the exchange. Corpus stats (N, Σdl) ride as a
    * broadcast 1-row frame. Nothing is driver-collected. */
  def bm25TopK(docs: DataFrame, nQueries: Int = 5, k: Int = 10,
               k1: Double = Bm25K1, b: Double = Bm25B): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreq(docs)                                   // (doc_id, term, tf)
    val dl = docs.select(col("doc_id").as("n_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qt = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfd = col("tf").cast("double")
    val tfSat = ((tfd * lit(k1)) + tfd) /
      (tfd + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (col("dl").cast("double") / avgdl)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("bm25_fp").desc, col("n_id"))
    broadcast(qt)
      .join(tf.withColumnRenamed("doc_id", "n_id"), Seq("term"))
      .where(col("q_id") =!= col("n_id"))
      .join(dfT, Seq("term"))
      .join(dl, Seq("n_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_fp", floor(lit(1e6) * (idf * tfSat)).cast("long"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("contrib_fp")).as("bm25_fp"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("bm25_fp"), col("rnk"))
  }

  /** Corpus-LM fluency score — the distributed seat of perplexity
    * filtering (Wenzek et al., "CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data": score every document
    * with a language model trained on trusted text; drop the tail).
    * The LM here is an add-one-smoothed token-BIGRAM model trained on
    * the corpus itself: `p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`, and
    * a document's score is the MEAN bigram probability over its bigram
    * occurrences. Docs with fewer than 2 tokens score NULL.
    *
    * Honest note on the metric (same class of trade as [[tfidfTopK]]'s
    * linear idf): true perplexity exponentiates a mean of `log p`, and
    * `ln` is a libm call whose last-ulp rounding differs across
    * engines — a single differing ulp across millions of bigrams
    * breaks a bit-exact oracle. Mean LINEAR probability ranks fluency
    * the same direction (rare/unseen transitions drag the score down)
    * using only +,·,/ — every op correctly-rounded IEEE. Per-bigram
    * probabilities are quantized to fixed-point (`floor(1e9·p)` as
    * BIGINT) so the per-doc sum is an order-free integer sum; the
    * single final division to the mean is one deterministic double op.
    *
    * Scale shape: a doc's bigrams collapse to (doc, bigram, n) counts
    * map-side before any exchange (HashAggregate partial — the
    * [[termFreq]] argument); corpus bigram counts are one narrow
    * bigram-keyed exchange; the unigram-count join is vocabulary-sized
    * and keyed on the bigram's FIRST token; V rides as a broadcast
    * 1-row frame. The per-doc rollup re-keys by doc_id — result-sized
    * rows throughout, never one row per token occurrence. */
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * score every raw document by how target-like its hashed-ngram
    * features are — the weight that [[Sampling.weightedSample]] then
    * resamples by to tilt a generic crawl toward a target domain.
    * Completes the mixing family (D15 balanced, D15b temperature,
    * D30 weighted): domain_mix balances what you HAVE, dsir moves the
    * mix toward what you WANT.
    *
    * Model: DSIR fits bag-of-hashed-ngrams generative models p̂
    * (target) and q̂ (raw) and weights by p(x)/q(x). Here the feature
    * is the doc's DISTINCT hashed word bigrams ([[Hashing
    * .hashedShinglesNCol]] n=2, the engine's shingle convention)
    * bucketed to `buckets` cells, and each per-bucket likelihood
    * ratio is the add-one-smoothed count ratio
    * `(tc+1)(Q+B) / ((qc+1)(T+B))` — PURE INTEGERS, evaluated in
    * fixed point (`·1e9` integral division, DECIMAL(38) intermediate
    * so 100 TB-scale counts cannot overflow). The per-doc weight is
    * the MEAN ratio over its features rather than DSIR's log-sum:
    * `log` is libm (engine-dependent last-ulp — the [[lmBigramScore]]
    * determinism playbook), while the mean of fixed-point ratios is
    * an order-free integer sum plus ONE exact division, ranks docs in
    * the same direction, and hash-replays bit-exactly in DuckDB.
    *
    * Scale shape: one corpus pass explodes distinct bigrams (8-byte
    * hashes, never strings); the target/raw counts are ONE bucket-
    * keyed aggregate (map-side combined, `buckets` rows out); totals
    * are a 1-row broadcast; the ratio table re-attaches to the
    * feature stream by broadcast join; the per-doc rollup is the only
    * doc-keyed exchange. Output: (doc_id, n_feat, sum_fp, dsir_w);
    * docs with no bigram features score NULL. */
  def dsirWeights(docs: DataFrame, targetPred: Column,
                  buckets: Int = DsirBuckets): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // persisted: the feature stream feeds BOTH the bucket-count
    // aggregate and the per-doc rollup — without the cache each
    // action-side subtree re-tokenizes and re-hashes the corpus (the
    // dedup operators' projection convention; released by the
    // harnesses' clearCache)
    val gb = docs.select(col("doc_id"), targetPred.as("is_target"),
        explode(Hashing.hashedShinglesNCol(
          TextFunctions.tokens(col("text")), 2)).as("g"))
      .select(col("doc_id"), col("is_target"),
        (shiftrightunsigned(col("g"), 1) % buckets).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = gb.groupBy(col("b")).agg(
      count(lit(1)).as("qc"),
      sum(col("is_target").cast("long")).as("tc"))
    val tot = counts.agg(sum(col("qc")).as("q"), sum(col("tc")).as("t"))
    // BOTH sides of the integral division run in DECIMAL(38): the
    // denominator is a product of two counts, and long*long silently
    // wraps past 2^63 at 100 TB feature volumes (the oracle's HUGEINT
    // denominator never wraps — parity would break exactly at scale)
    val ratios = counts.crossJoin(broadcast(tot))
      .withColumn("r_fp", expr(
        s"CAST(1000000000 AS DECIMAL(38,0)) * (tc + 1) * (q + $buckets) div " +
          s"(CAST(qc + 1 AS DECIMAL(38,0)) * (t + $buckets))"))
      .select(col("b"), col("r_fp"))
    val perDoc = gb.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"), sum(col("r_fp")).as("sum_fp"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_feat", coalesce(col("n_feat"), lit(0L)))
      .withColumn("sum_fp", coalesce(col("sum_fp"), lit(0L)))
      .withColumn("dsir_w",
        when(col("n_feat") > 0,
          col("sum_fp").cast("double") / col("n_feat").cast("double")))
  }

  /** The DSIR RESAMPLE step: importance weights → a deterministic
    * weighted sample of `n` docs per stratum via the
    * [[Sampling.weightedSample]] machinery (hash-priority / weight —
    * its documented Efraimidis–Spirakis determinism trade). Zero- or
    * null-weight docs (no features) are outside the sampling
    * population, per weightedSample's contract. */
  def dsirResample(docs: DataFrame, targetPred: Column, n: Int,
                   stratum: Column = lit("all"), buckets: Int = DsirBuckets): DataFrame = {
    val w = dsirWeights(docs, targetPred, buckets)
      .select(col("doc_id"), col("dsir_w"))
    Sampling.weightedSample(
      docs.join(w, Seq("doc_id")), col("doc_id"), col("dsir_w"), stratum, n)
  }

  def lmBigramScore(docs: DataFrame, trainPct: Int = 100,
                    seed: Long = LmTrainSeed): DataFrame = {
    require(trainPct > 0 && trainPct <= 100, s"trainPct in (0,100], got $trainPct")
    val toks = TextFunctions.tokens(col("text"))
    val bg = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, c) => concat(a, lit(" "), c))
    ).otherwise(array().cast("array<string>"))
    // (doc_id, bgk, w1, n): bigram occurrences per doc, combined
    // map-side. Bigram IDENTITY travels as its xxhash64 (`bgk`) —
    // every downstream exchange and join keys on 8 bytes instead of
    // the bigram string (the hashed-shingle argument from Dedup: a
    // count merged across distinct bigrams needs a 64-bit collision
    // inside one corpus, ~1e-15-class). `w1` (the conditioning
    // unigram) is extracted BEFORE the combine so no string ever
    // needs to come back out of a hash.
    val docBg = docs.select(col("doc_id"), explode(bg).as("bg"))
      .select(col("doc_id"), xxhash64(col("bg")).as("bgk"),
        element_at(split(col("bg"), " "), 1).as("w1"))
      .groupBy(col("doc_id"), col("bgk"), col("w1")).agg(count(lit(1)).as("n"))
    // Sample-bounded TRAINING (trainPct < 100, the 100 TB posture):
    // the model's counts (c2, c1, V) come from a deterministic
    // splitmix64 hash-sample of the docs — an n-gram LM is a count
    // statistic and converges on a sample, so the two full-corpus
    // training aggregations shrink to trainPct% — while SCORING still
    // covers every document. Bigrams/unigrams unseen in the sample
    // take the add-one smoothing floor ((0+1)/(c1+V), or 1/V when the
    // conditioning unigram itself is unseen) — the model semantics,
    // not a join artifact. At trainPct=100 every coalesce below is a
    // no-op and the result is bit-identical to full-corpus training.
    val inSample = Sampling.bucket(col("doc_id"), seed) < trainPct
    val trainBg = if (trainPct >= 100) docBg else docBg.where(inSample)
    val c2 = trainBg.groupBy(col("bgk"), col("w1")).agg(sum(col("n")).as("c2"))
    val c1 = (if (trainPct >= 100) docs else docs.where(inSample))
      .select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // V as a driver constant (one long — a model statistic, the
    // codebook convention) off the persisted vocab frame; an EMPTY
    // training sample must fail loudly here — downstream it would be
    // a 1/(0+0) division that non-ANSI Spark silently casts to
    // Long.MaxValue garbage while the oracle errors
    val v = c1.count()
    require(v > 0,
      s"lmBigramScore: training sample has no tokens (trainPct=$trainPct, seed=$seed)")
    // score against the FULL corpus's bigram vocabulary: sampled
    // counts attach by left join (bigram-type-sized frames — when
    // training is full-corpus, c2 already IS that vocabulary and the
    // distinct pass is skipped)
    val bgv = if (trainPct >= 100) c2
      else docBg.select(col("bgk"), col("w1")).distinct()
        .join(c2.select(col("bgk"), col("c2")), Seq("bgk"), "left")
    val pFp = bgv
      .join(c1, col("w1") === col("term"), "left")
      .withColumn("p_fp", floor(lit(1e9) *
        ((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + lit(v)).cast("double")))
        .cast("long"))
      .select(col("bgk"), col("p_fp"))
    val perDoc = docBg.join(pFp, Seq("bgk"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), sum(col("n") * col("p_fp")).as("sum_fp"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("sum_fp", coalesce(col("sum_fp"), lit(0L)))
      .withColumn("lm_score",
        when(col("n_bigrams") > 0,
          col("sum_fp").cast("double") / col("n_bigrams").cast("double")))
      .select(col("doc_id"), col("n_bigrams"), col("sum_fp"), col("lm_score"))
  }

  /** Hashed-BUCKET bigram LM — the SCALE twin of [[lmBigramScore]]
    * (the exact-vs-banded convention of the dedup family applied to
    * LM scoring): bigram identity hashes into `buckets` cells and the
    * model is the add-one-smoothed bucket-occupancy distribution
    * `p_b = (c_b + 1) / (N + B)` (c_b = the bucket's occurrence count
    * in the training sample, N = total sampled occurrences). A doc's
    * score is the mean fixed-point `p_b` over its bigram occurrences
    * — same output shape as the exact LM.
    *
    * Why it exists: the exact LM's wall is SCORING — every bigram
    * occurrence must meet its probability through bigram-type-keyed
    * joins (13.1× at 32× data, `git show 6c9821a:SURVEY.md` §18 r13
    * note), because the vocabulary is unbounded. Bucketing makes the
    * model B rows, so scoring becomes a pure MAP pass: the probability table
    * BROADCASTS, bucketing is one codegen'd hash per occurrence, the
    * bucket-count training aggregate partial-combines to ≤ B rows per
    * partition, and the only corpus-sized exchange left is the
    * per-doc rollup (itself map-side combined). The documented trade:
    * bucket collisions blur rare-bigram probabilities (size `buckets`
    * against the vocabulary), and conditioning on w1 is dropped
    * (joint occupancy, not conditional) — the rarity signal keeps its
    * direction, which is what perplexity FILTERING consumes.
    *
    * Determinism: occurrence hash = [[Hashing.fingerprint]] (the
    * hash64/seed-3 convention), fixed-point ratios by DECIMAL(38)
    * integral division (100 TB counts cannot overflow), one exact
    * double division for the mean — bit-exact DuckDB replay. */
  def lmBucketScore(docs: DataFrame, buckets: Int = LmBuckets,
                    trainPct: Int = 100, seed: Long = LmTrainSeed): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(trainPct > 0 && trainPct <= 100, s"trainPct in (0,100], got $trainPct")
    val toks = TextFunctions.tokens(col("text"))
    val bg = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, c) => concat(a, lit(" "), c))
    ).otherwise(array().cast("array<string>"))
    // persisted: the occurrence stream feeds the training counts AND
    // the scoring rollup — without the cache each subtree re-tokenizes
    // and re-hashes the corpus (the projection-cache convention;
    // released by the harnesses' clearCache)
    val occ = docs.select(col("doc_id"), explode(bg).as("bg"))
      .select(col("doc_id"),
        (shiftrightunsigned(Hashing.fingerprint(col("bg")), 1) % buckets).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = if (trainPct >= 100) occ
      else occ.where(Sampling.bucket(col("doc_id"), seed) < trainPct)
    val cb = train.groupBy(col("b")).agg(count(lit(1)).as("cb"))
    // N derives from the bucket counts (≤ B rows) — never a second
    // pass over the occurrence stream; empty sample sums to NULL →
    // coalesce to 0 (every bucket then takes the pure add-one floor)
    val tot = cb.agg(coalesce(sum(col("cb")), lit(0L)).as("n"))
    // the FULL B-row probability table (absent buckets take the
    // add-one floor) — broadcast-sized by construction
    val ratios = docs.sparkSession.range(buckets).toDF("b")
      .join(cb, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("r_fp", expr(
        s"CAST(1000000000 AS DECIMAL(38,0)) * (coalesce(cb, 0) + 1) div (n + $buckets)"))
      .select(col("b"), col("r_fp"))
    val perDoc = occ.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("r_fp")).as("sum_fp"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("sum_fp", coalesce(col("sum_fp"), lit(0L)))
      .withColumn("lm_score",
        when(col("n_bigrams") > 0,
          col("sum_fp").cast("double") / col("n_bigrams").cast("double")))
  }

  /** Exact-substring duplicate pair mining: document pairs sharing at
    * least one identical run of `ngram` consecutive tokens, with the
    * count of distinct shared windows — the distributed seat of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": a 50-token verbatim overlap
    * marks a dup even when the documents as a whole are dissimilar,
    * which Jaccard/MinHash whole-doc similarity cannot see). A suffix
    * array is a single-machine structure; the scale shape is a
    * posting-list self-join on hashed `ngram`-windows.
    *
    * `maxDf` drops windows occurring in more than that many documents
    * before the join — simultaneously the boilerplate guard (a
    * license header shared by 10⁶ docs is not duplication evidence;
    * [[topNgrams]] is the tool for boilerplate) and the mega-bucket
    * defense: per-window join fan-out is bounded by C(maxDf, 2), so
    * the candidate volume is linear in kept postings with a hard
    * quadratic cap per window. The df filter prunes exactly the Zipf
    * head that would dominate the shuffle. Documented recall trade:
    * a verbatim run shared by > maxDf docs is reported only through
    * its rarer flanking windows, if any.
    *
    * Windows are 64-bit hashed ([[Hashing.hashedShinglesNCol]] —
    * distinct, so n_shared counts distinct shared windows): the
    * posting join shuffles 16 B rows, never token strings, and hashed
    * equality equals string equality barring ~2⁻⁶⁴ collisions (the
    * MinHash argument). Output: (a_id, b_id, n_shared). */
  def substrPairs(docs: DataFrame, ngram: Int = 13, maxDf: Int = 50): DataFrame = {
    // persist the gram projection and the df-filtered postings: the df
    // aggregate and BOTH sides of the self-join reference them, and
    // without the cache Catalyst re-derives each reference from the
    // scan — 4 corpus passes and 2 df aggregations for one query
    // (16 B/row frames; MEMORY_AND_DISK spills at scale, and the
    // recompute alternative is full corpus re-shingling)
    val g = docs.select(col("doc_id"),
      explode(Hashing.hashedShinglesNCol(TextFunctions.tokens(col("text")), ngram)).as("g"))
      .persist()
    val df = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val kept = g.join(df.where(col("df") <= maxDf), Seq("g"))
      .select(col("g"), col("doc_id"))
      .persist()
    kept.as("a")
      .join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Rarity-weighted quality score: each document's mean corpus
    * frequency over its token stream — the log-free seat of the
    * unigram-LM scoring a CCNet-style pipeline uses to bucket docs by
    * "typicality" (boilerplate floats to the top, lexical noise and
    * OCR garbage sink to the bottom). The mean of ln p(token) would be
    * the textbook form; the mean of the raw corpus counts ranks the
    * same tails while staying exact-integer until ONE final division —
    * so the oracle replays it bit-for-bit.
    *
    * Scale shape: [[termFreq]] → narrow (term) exchange for the corpus
    * term counts (map-side combined) → term-keyed join → one (doc_id)
    * exchange for the integer rollup. Nothing wider than a tf row ever
    * shuffles. Output: (doc_id, n_tok, wsum, mean_ctf). */
  def termRarity(docs: DataFrame): DataFrame = {
    val tf = termFreq(docs)
    val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    tf.join(ctf, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("ctf")).as("wsum"), sum(col("tf")).as("n_tok"))
      .select(col("doc_id"), col("n_tok"), col("wsum"),
        (col("wsum").cast("double") / col("n_tok")).as("mean_ctf"))
  }

  /** Per-stratum corpus statistics with EXACT discrete quantiles at
    * 100 TB. The naive exact-quantile plan (per-group sort of every
    * doc, or `collect_list` per group) dies when a stratum holds
    * billions of docs; Spark's built-in exact `percentile` holds a
    * per-group value→count map in agg state, which is the same idea —
    * but interpolates, so the result is a synthetic double no other
    * engine reproduces bit-for-bit. Instead: quantiles of an INTEGER
    * measure (per-doc whitespace token count) computed from the
    * (stratum, value) HISTOGRAM — stage 1 is a map-side-combined
    * count per (stratum, tc) whose output is strata × distinct-counts
    * rows (thousands, not billions); stage 2 is a cumulative window
    * over that tiny frame. The discrete quantile q is the smallest
    * value whose cumulative count ≥ ⌈q·n⌉ — an actual element of the
    * data, integer arithmetic only (`den·cum ≥ num·n` avoids even the
    * ⌈⌉), so any engine hash-matches it.
    *
    * Output per (lang, source): n_docs, tok_sum, tok_min, tok_max,
    * tok_p50, tok_p90. Exchanges: one for the histogram, one on the
    * stratum key for the window+rollup (histogram-sized rows — no
    * text, no doc ids). */
  def corpusStats(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs
      .select(col("lang"), col("source"), size(split(col("text"), " ")).as("tc"))
      .groupBy(col("lang"), col("source"), col("tc"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang"), col("source")).orderBy(col("tc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("lang"), col("source"))
    // smallest tc with den·cum ≥ num·n  ⟺  cum ≥ ⌈(num/den)·n⌉
    def q(num: Int, den: Int): Column =
      min(when(col("cum") * den >= col("n") * num, col("tc")))
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("tsum", sum(col("c") * col("tc")).over(wAll))
      .groupBy(col("lang"), col("source"))
      .agg(
        max(col("n")).as("n_docs"),
        max(col("tsum")).as("tok_sum"),
        min(col("tc")).as("tok_min"),
        max(col("tc")).as("tok_max"),
        q(1, 2).as("tok_p50"),
        q(9, 10).as("tok_p90"))
  }
}
