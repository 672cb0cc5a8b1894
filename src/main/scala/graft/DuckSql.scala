package graft

/** Generators for DuckDB oracle SQL that replays graft's custom 64-bit
  * hash pipelines bit-exactly, so the hash-based operators
  * (`doc_fingerprint`, `dedup_simhash`, `dedup_minhash_lsh`) get a full
  * SQL oracle instead of a rows-only check.
  *
  * DuckDB BIGINT arithmetic raises on overflow (no wrap-around), so the
  * oracle runs every hash in HUGEINT (int128) arithmetic mod 2^64:
  *
  *  - 64-bit wrap-around multiplication by a constant is decomposed
  *    into 32-bit halves (`a*m = a*m_lo + ((a*m_hi) mod 2^32)·2^32`,
  *    all mod 2^64) so no intermediate exceeds ~2^97;
  *  - logical shift right is integer division by 2^k;
  *  - the final unsigned value converts to Spark's signed long with a
  *    2^63 pivot.
  *
  * The byte-level FNV-1a fold iterates `unicode(char)` over
  * `string_split(s, '')`, which equals UTF-8 bytes for the ASCII-only
  * test corpus (asserted by the oracle itself returning matching
  * hashes; non-ASCII corpora would need a bytes-of-BLOB iteration).
  *
  * Mirrors [[graft.functions.Hashing]] exactly: FNV-1a offset/prime,
  * splitmix64 finalizer constants, seed mixing, double-hash MinHash
  * permutations `h1 + j*h2` compared as signed longs, and the
  * `acc*31 + x` band fold seeded with 17.
  */
object DuckSql {

  private val M = "18446744073709551616" // 2^64
  private val FnvOffset = BigInt("cbf29ce484222325", 16)
  private val FnvPrime = BigInt("100000001b3", 16)
  private val K1 = BigInt("9e3779b97f4a7c15", 16) // splitmix64 gamma
  private val K2 = BigInt("bf58476d1ce4e5b9", 16)
  private val K3 = BigInt("94d049bb133111eb", 16)

  /** `(a * m) mod 2^64` with `a` an unsigned HUGEINT expr < 2^64 and
    * `m` a 64-bit constant, via 32-bit decomposition of `m`. */
  private def mulmod(a: String, m: BigInt): String = {
    val lo = m & 0xffffffffL
    val hi = m >> 32
    s"((($a)*$lo + ((($a)*$hi) % 4294967296) * 4294967296) % $M)"
  }

  /** Unsigned HUGEINT in [0, 2^64) → Spark's signed BIGINT. */
  def signed(a: String): String =
    s"CAST(CASE WHEN ($a) >= 9223372036854775808 THEN ($a) - $M ELSE ($a) END AS BIGINT)"

  /** Signed BIGINT expr → unsigned HUGEINT in [0, 2^64). */
  def unsigned(a: String): String =
    s"(CASE WHEN ($a) < 0 THEN CAST(($a) AS HUGEINT) + $M ELSE CAST(($a) AS HUGEINT) END)"

  /** FNV-1a 64 fold (no finalizer) over the chars of `strExpr` with the
    * seed mixed into the offset basis; unsigned HUGEINT out. */
  private def fnvFold(strExpr: String, seed: Long): String = {
    val init = FnvOffset ^ BigInt(seed)
    s"list_reduce(list_prepend($init::HUGEINT, " +
      s"list_transform(list_filter(string_split($strExpr, ''), c -> c <> ''), " +
      s"c -> unicode(c)::HUGEINT)), (h, b) -> ${mulmod("xor(h, b)", FnvPrime)})"
  }

  /** Wrap relation `src` (must expose column `inCol` as unsigned
    * HUGEINT) in the 4-stage splitmix64 finalizer; result keeps
    * `carry` columns plus `outCol` (unsigned HUGEINT). */
  private def finalize(src: String, carry: String, inCol: String, outCol: String): String =
    s"""(SELECT $carry, xor($outCol, $outCol // 2147483648) AS $outCol FROM
       | (SELECT $carry, ${mulmod(s"xor($outCol, $outCol // 134217728)", K3)} AS $outCol FROM
       |  (SELECT $carry, ${mulmod(s"xor($outCol, $outCol // 1073741824)", K2)} AS $outCol FROM
       |   (SELECT $carry, (($inCol) + $K1) % $M AS $outCol FROM $src))))""".stripMargin

  /** Replay of [[graft.functions.Hashing.hashLong]] (splitmix64 of
    * `v ⊕ seed`) as a relation wrapper: `src` must expose `inExpr` as
    * a signed BIGINT; result keeps `carry` columns plus `outCol`
    * (unsigned HUGEINT — wrap in [[signed]] to compare with Spark, or
    * derive buckets with `(outCol // 2) % B`, which equals Spark's
    * `shiftrightunsigned(h, 1) % B`). */
  def hashLongCtes(src: String, carry: String, inExpr: String, seed: Long,
                   outCol: String): String =
    finalize(s"(SELECT $carry, xor(${unsigned(inExpr)}, ${seed}::HUGEINT) AS __h0 FROM $src)",
      carry, "__h0", outCol)

  /** Oracle for `doc_fingerprint`: hash64(text, seed=3) per doc. */
  def fingerprintOracle: String =
    s"""SELECT doc_id, ${signed("h")} AS fp
       |FROM ${finalize("(SELECT doc_id, " + fnvFold("text", 3) + " AS h0 FROM documents)",
                        "doc_id", "h0", "h")} f""".stripMargin

  /** Oracle for `dedup_simhash` with chunk-pair banding: the band
    * expressions are written from the engine's own geometry,
    * [[graft.functions.Hashing.chunkPairBands]]. */
  def simhashOracle(maxHamming: Int): String = {
    def chunk(c: (Int, Int)): String = s"((shu // ${BigInt(1) << c._1}) % ${BigInt(1) << c._2})"
    val bandExprs = graft.functions.Hashing.chunkPairBands(maxHamming, 64).map { case (ci, cj) =>
      s"${chunk(ci)} * ${BigInt(1) << cj._2} + ${chunk(cj)}"
    }
    val tokHashes = finalize(
      "(SELECT doc_id, " + fnvFold("tok", 2) + " AS h0 FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))",
      "doc_id", "h0", "h")
    s"""WITH th AS (SELECT * FROM $tokHashes tf),
       |bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (h // (1::HUGEINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) js
       |  GROUP BY doc_id, j),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, sum(CASE WHEN vote > 0 THEN 1::HUGEINT << j ELSE 0::HUGEINT END) AS shu
       |  FROM bits GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, shu,
       |         unnest(range(${bandExprs.length})) AS ci,
       |         unnest([${bandExprs.mkString(", ")}]) AS cv
       |  FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.shu AS au, b.shu AS bu
       |  FROM bands a JOIN bands b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id),
       |ver AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |         CASE WHEN bit_count(xor(${signed("au")}, ${signed("bu")})) <= $maxHamming
       |              THEN 1 ELSE 0 END AS dup
       |  FROM cand),
       |u AS (
       |  SELECT a_id AS doc_id, dup, 0 AS dup_smaller FROM ver
       |  UNION ALL
       |  SELECT b_id AS doc_id, dup, dup AS dup_smaller FROM ver)
       |SELECT s.doc_id, ${signed("s.shu")} AS sh64,
       |       count(u.dup) AS n_cand,
       |       CAST(coalesce(sum(u.dup), 0) AS BIGINT) AS n_dup,
       |       CAST(CASE WHEN coalesce(sum(u.dup_smaller), 0) > 0 THEN 0 ELSE 1 END AS INT) AS keep
       |FROM sh s LEFT JOIN u ON u.doc_id = s.doc_id
       |GROUP BY s.doc_id, s.shu""".stripMargin
  }

  /** Oracle for `dedup_minhash_lsh`: full MinHash signature + LSH band
    * replay — 3-gram string shingles, h1/h2 double hashing,
    * `h1 + j*h2` (mod 2^64, signed-min) signature, `acc*31+x` band
    * fold, bucket self-join candidates, exact-Jaccard verify, per-doc
    * rollup. Mirrors [[graft.operators.Dedup.minhashLsh]] (the hashed
    * 64-bit shingle intersection there equals string-shingle
    * intersection — no collisions at oracle scale).
    *
    * Hash family replays the engine's LONG path exactly: the engine
    * feeds pre-hashed shingles `g = hash64(s, seed 3)` into MinHashSig,
    * which derives `h1 = hashLong(g, 0) = splitmix64(g)` and
    * `h2 = hashLong(g, 1) = splitmix64(g ⊕ 1)` — NOT `hash64(s, 0/1)`
    * over the string. The candidate sets (and `n_cand`) only agree when
    * the band-hash family is identical, so the oracle finalizes the
    * seed-3 fold and then re-finalizes for h1/h2. */
  def minhashOracle(numHashes: Int, bands: Int, threshold: Double): String =
    "WITH " + minhashCtes(numHashes, bands, threshold) +
      s""", u AS (
         |  SELECT a_id AS doc_id, dup, 0 AS dup_smaller FROM ver
         |  UNION ALL
         |  SELECT b_id AS doc_id, dup, dup AS dup_smaller FROM ver)
         |SELECT d.doc_id,
         |       count(u.dup) AS n_cand,
         |       CAST(coalesce(sum(u.dup), 0) AS BIGINT) AS n_dup,
         |       CAST(CASE WHEN coalesce(sum(u.dup_smaller), 0) > 0 THEN 0 ELSE 1 END AS INT) AS keep
         |FROM d LEFT JOIN u ON u.doc_id = d.doc_id
         |GROUP BY d.doc_id""".stripMargin

  /** Connected components over the MinHash+LSH verified dup pairs —
    * oracle for `dedup_cc_lsh` (the scale-path edge set feeding the
    * same transitive closure as `dedup_cc`'s all-pairs input). */
  def minhashCcOracle(numHashes: Int, bands: Int, threshold: Double): String =
    "WITH RECURSIVE " + minhashCtes(numHashes, bands, threshold) +
      """, pr AS (SELECT a_id, b_id FROM ver WHERE dup = 1),
        |e AS (SELECT a_id AS u, b_id AS v FROM pr
        |      UNION SELECT b_id AS u, a_id AS v FROM pr),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        |comp AS (SELECT u, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.u""".stripMargin

  /** Oracle for `dup_cluster_stats`: the [[minhashCcOracle]] closure
    * rolled up to a cluster-SIZE histogram (how many clusters of each
    * size — the corpus-health metric a dedup report leads with). */
  def minhashCcSizeHistOracle(numHashes: Int, bands: Int, threshold: Double): String =
    "WITH RECURSIVE " + minhashCtes(numHashes, bands, threshold) +
      """, pr AS (SELECT a_id, b_id FROM ver WHERE dup = 1),
        |e AS (SELECT a_id AS u, b_id AS v FROM pr
        |      UNION SELECT b_id AS u, a_id AS v FROM pr),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        |comp AS (SELECT u, least(u, min(v)) AS comp FROM reach GROUP BY u),
        |allc AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
        |         FROM documents d LEFT JOIN comp c ON d.doc_id = c.u),
        |szs AS (SELECT comp, count(*) AS sz FROM allc GROUP BY comp)
        |SELECT CAST(sz AS BIGINT) AS sz,
        |       CAST(count(*) AS BIGINT) AS n_clusters
        |FROM szs GROUP BY sz""".stripMargin

  /** Oracle for `corpus_quantiles`: replay of
    * [[graft.operators.Sketch.quantileSketch]] — bottom-k rows by
    * signed `hashLong(key, seed)` (ties by key), then the value at
    * 0-based index `floor(q·(n-1))` of the sample ordered by
    * (value, key). Both the hash and the index arithmetic are exact
    * in either engine, so the result hash-matches. */
  def quantileSketchOracle(table: String, keyCol: String, valCol: String,
                           k: Int, seed: Long, quantiles: Seq[Double]): String = {
    val qlist = quantiles.map(dlit).mkString("[", ", ", "]")
    s"""WITH smp AS (
       |  SELECT __k, __v FROM
       |    (SELECT $keyCol AS __k, $valCol AS __v, ${signed("h")} AS hs
       |     FROM ${hashLongCtes(table, s"$keyCol, $valCol", keyCol, seed, "h")} hx)
       |  ORDER BY hs, __k LIMIT $k),
       |rk AS (
       |  SELECT __v, __k, row_number() OVER (ORDER BY __v, __k) AS rn,
       |         count(*) OVER () AS n
       |  FROM smp),
       |qs AS (SELECT unnest(CAST($qlist AS DOUBLE[])) AS q)
       |SELECT q, __v AS v
       |FROM rk JOIN qs ON rn - 1 = CAST(floor(q * (n - 1)) AS BIGINT)""".stripMargin
  }

  /** Oracle for `group_quantiles`: replay of
    * [[graft.operators.Sketch.groupQuantileSketch]] — per-group
    * bottom-k rows by signed `hashLong(key, seed)` (ties by key), then
    * per-group index-rule quantiles, same exact arithmetic as
    * [[quantileSketchOracle]]. */
  def groupQuantileSketchOracle(table: String, groupCol: String, keyCol: String,
                                valCol: String, k: Int, seed: Long,
                                quantiles: Seq[Double]): String = {
    val qlist = quantiles.map(dlit).mkString("[", ", ", "]")
    s"""WITH smp AS (
       |  SELECT __g, __k, __v FROM (
       |    SELECT __g, __k, __v,
       |           row_number() OVER (PARTITION BY __g ORDER BY hs, __k) AS srn
       |    FROM (SELECT $groupCol AS __g, $keyCol AS __k, $valCol AS __v,
       |                 ${signed("h")} AS hs
       |          FROM ${hashLongCtes(table, s"$groupCol, $keyCol, $valCol", keyCol, seed, "h")} hx) t0
       |  ) t WHERE srn <= $k),
       |rk AS (
       |  SELECT __g, __v, __k,
       |         row_number() OVER (PARTITION BY __g ORDER BY __v, __k) AS rn,
       |         count(*) OVER (PARTITION BY __g) AS n
       |  FROM smp),
       |qs AS (SELECT unnest(CAST($qlist AS DOUBLE[])) AS q)
       |SELECT __g AS stratum, q, __v AS v
       |FROM rk JOIN qs ON rn - 1 = CAST(floor(q * (n - 1)) AS BIGINT)""".stripMargin
  }

  /** Keeper selection over the LSH-pair components — oracle for
    * `dedup_cc_keep_lsh` (scale-path twin of `dedup_cc_keep`). */
  def minhashCcKeepOracle(numHashes: Int, bands: Int, threshold: Double): String =
    "WITH RECURSIVE " + minhashCtes(numHashes, bands, threshold) +
      """, pr AS (SELECT a_id, b_id FROM ver WHERE dup = 1),
        |e AS (SELECT a_id AS u, b_id AS v FROM pr
        |      UNION SELECT b_id AS u, a_id AS v FROM pr),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        |comp AS (SELECT u, least(u, min(v)) AS comp FROM reach GROUP BY u),
        |allc AS (
        |  SELECT dd.doc_id, coalesce(c.comp, dd.doc_id) AS comp, dd.n_chars
        |  FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.u),
        |rk AS (
        |  SELECT doc_id, comp,
        |         row_number() OVER (PARTITION BY comp
        |                ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM allc)
        |SELECT doc_id, comp,
        |       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM rk""".stripMargin

  /** The shared MinHash replay chain (no WITH prefix; ends at `ver`
    * (a_id, b_id, dup) — the per-doc rollup and the cc closure both
    * build on it). The per-doc candidate/dup sets equal the engine's
    * group-collapsed pipeline because identical shingle sets yield
    * identical signatures and band buckets. */
  /** The per-doc MinHash replay prefix (`d`/`shl`/`hh`/`sig`/`bh` —
    * shingles, signature, band values), shared by [[minhashCtes]] and
    * [[minhashIncrementalOracle]]. */
  /** The shingle→(g, h1, h2) hash-family subquery (reads `shl`) —
    * shared by [[minhashBase]] and the pareto oracle's hoisted CTEs. */
  private def minhashShingleHashes: String = finalize(
    finalize(
      finalize(
        "(SELECT doc_id, " + fnvFold("s", 3) + " AS g0 FROM " +
          "(SELECT doc_id, unnest(sh) AS s FROM shl))",
        "doc_id", "g0", "g"),
      "doc_id, g", "g", "h1"),
    "doc_id, h1", "xor(g, 1::HUGEINT)", "h2")

  private def minhashBase(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val shingleHashes = minhashShingleHashes
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |shl AS MATERIALIZED (
       |  SELECT doc_id,
       |         CASE WHEN len(w) >= 3
       |              THEN list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2]
       |                                  for i in range(1, len(w) - 1)])
       |              ELSE CAST([] AS VARCHAR[]) END AS sh
       |  FROM d),
       |hh AS (SELECT * FROM $shingleHashes hf),
       |sig AS (
       |  SELECT doc_id, j, min(${signed("(h1 + j*h2) % " + M)}) AS sv
       |  FROM hh CROSS JOIN (SELECT unnest(range($numHashes)) AS j) js
       |  GROUP BY doc_id, j),
       |bh AS MATERIALIZED (
       |  SELECT doc_id, j // $rows AS band,
       |         list_reduce(list_prepend(17::HUGEINT, list(${unsigned("sv")} ORDER BY j)),
       |                     (a, x) -> (a*31 + x) % $M) AS bv
       |  FROM sig GROUP BY doc_id, j // $rows)""".stripMargin
  }

  private def minhashCtes(numHashes: Int, bands: Int, threshold: Double): String =
    s"""${minhashBase(numHashes, bands)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bh a JOIN bh b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |sln AS (SELECT doc_id, len(sh) AS ln FROM shl),
       |sx AS (SELECT doc_id, unnest(sh) AS g FROM shl),
       |pint AS (
       |  -- exact intersection sizes via the shingle posting list
       |  -- (equals len(list_intersect(..)) pair-by-pair, but scales
       |  -- with the dup structure instead of candidate-count × |sh|²)
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sx a JOIN sx b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |ver AS MATERIALIZED (
       |  SELECT c.a_id, c.b_id,
       |         CASE WHEN CAST(coalesce(i.inter, 0) AS DOUBLE) /
       |                   (la.ln + lb.ln - coalesce(i.inter, 0)) >= $threshold
       |              THEN 1 ELSE 0 END AS dup
       |  FROM cand c
       |  JOIN sln la ON la.doc_id = c.a_id
       |  JOIN sln lb ON lb.doc_id = c.b_id
       |  LEFT JOIN pint i ON i.a_id = c.a_id AND i.b_id = c.b_id)""".stripMargin

  /** Oracle for `dedup_pareto`: the near-dup recall/cost sweep —
    * the blocked-exact baseline's pair + candidate counts (from the
    * caller-supplied `near_dup_jaccard` CTE chain, whose `p` rows ARE
    * the blocked candidates), and per band count the minhash replay's
    * candidate/verified-pair counts (`ver` rows / `dup` sum).
    *
    * r15 restructure (the e60ddd2 materialized-CTE medicine, applied
    * after the sf1 solo replay outgrew this box's disk): the arms
    * differ ONLY in the band split, so everything band-independent —
    * shingles, signatures, posting-list intersections (`pint`, the
    * dominant cost) — is declared ONCE as shared top-level
    * MATERIALIZED CTEs and each arm adds just its `bh/cand/ver`
    * (suffixed names, no collisions). Counts per arm are unchanged —
    * identical formulations over identical inputs — so the row
    * hashes exactly as the nested-WITH form did, at one `pint`
    * materialization instead of |bands|. */
  def dedupParetoOracle(jaccardCtes: String, threshold: Double,
                        numHashes: Int, bandsList: Seq[Int]): String = {
    val rowsOf = (b: Int) => numHashes / b
    val shared =
      s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shl AS MATERIALIZED (
         |  SELECT doc_id,
         |         CASE WHEN len(w) >= 3
         |              THEN list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2]
         |                                  for i in range(1, len(w) - 1)])
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM d),
         |hh AS (SELECT * FROM ${minhashShingleHashes} hf),
         |sig AS MATERIALIZED (
         |  SELECT doc_id, j, min(${signed("(h1 + j*h2) % " + M)}) AS sv
         |  FROM hh CROSS JOIN (SELECT unnest(range($numHashes)) AS j) js
         |  GROUP BY doc_id, j),
         |sln AS (SELECT doc_id, len(sh) AS ln FROM shl),
         |sx AS (SELECT doc_id, unnest(sh) AS g FROM shl),
         |pint AS MATERIALIZED (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sx a JOIN sx b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)""".stripMargin
    val perB = bandsList.map { b =>
      s"""bh$b AS MATERIALIZED (
         |  SELECT doc_id, j // ${rowsOf(b)} AS band,
         |         list_reduce(list_prepend(17::HUGEINT, list(${unsigned("sv")} ORDER BY j)),
         |                     (a, x) -> (a*31 + x) % $M) AS bv
         |  FROM sig GROUP BY doc_id, j // ${rowsOf(b)}),
         |cand$b AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bh$b a JOIN bh$b b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |ver$b AS MATERIALIZED (
         |  SELECT c.a_id, c.b_id,
         |         CASE WHEN CAST(coalesce(i.inter, 0) AS DOUBLE) /
         |                   (la.ln + lb.ln - coalesce(i.inter, 0)) >= $threshold
         |              THEN 1 ELSE 0 END AS dup
         |  FROM cand$b c
         |  JOIN sln la ON la.doc_id = c.a_id
         |  JOIN sln lb ON lb.doc_id = c.b_id
         |  LEFT JOIN pint i ON i.a_id = c.a_id AND i.b_id = c.b_id),
         |m$b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cand,
         |         CAST(coalesce(sum(dup), 0) AS BIGINT) AS n_found
         |  FROM ver$b)""".stripMargin
    }.mkString(",\n")
    val bRows = bandsList.map { b =>
      s"""SELECT 'minhash_lsh' AS method, CAST($b AS INT) AS bands,
         |       (SELECT n_exact FROM jx) AS n_exact,
         |       (SELECT n_found FROM m$b) AS n_found,
         |       (SELECT n_cand FROM m$b) AS n_cand""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH jx AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_exact
       |  FROM (WITH ${jaccardCtes}SELECT 1 FROM p WHERE j >= ${dlit(threshold)}) q),
       |bhx AS (
       |  SELECT n_chars // 100 AS bucket, count(*) AS n FROM documents GROUP BY 1),
       |jc AS (
       |  -- blocked-candidate count from the bucket histogram (the
       |  -- posting-list `p` only materializes pairs sharing a shingle;
       |  -- the baseline's cost axis is the BLOCKED pair count):
       |  -- same-bucket C(n,2) + adjacent-bucket n_k * n_{k+1}
       |  SELECT CAST(coalesce((SELECT sum(n * (n - 1) // 2) FROM bhx), 0) +
       |              coalesce((SELECT sum(a.n * b.n) FROM bhx a
       |                        JOIN bhx b ON b.bucket = a.bucket + 1), 0)
       |         AS BIGINT) AS n_cand),
       |$shared,
       |$perB
       |SELECT 'exact' AS method, CAST(0 AS INT) AS bands,
       |       (SELECT n_exact FROM jx) AS n_exact,
       |       (SELECT n_exact FROM jx) AS n_found,
       |       (SELECT n_cand FROM jc) AS n_cand
       |UNION ALL
       |$bRows""".stripMargin
  }

  /** Oracle for `dedup_incremental_lsh`: replay of
    * [[graft.operators.Dedup.incrementalNearDup]] — the per-doc
    * MinHash/band replay, batch×snapshot band-bucket candidates,
    * exact-Jaccard verify, count of verified snapshot near-dups per
    * batch doc (total output: unbanded / candidate-less batch docs
    * appear with 0 and keep = 1). */
  def minhashIncrementalOracle(numHashes: Int, bands: Int, threshold: Double,
                               cutoff: Long): String =
    s"""WITH ${minhashBase(numHashes, bands)},
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS b_id, s.doc_id AS s_id
       |  FROM bh b JOIN bh s ON b.band = s.band AND b.bv = s.bv
       |  WHERE b.doc_id >= $cutoff AND s.doc_id < $cutoff),
       |sln AS (SELECT doc_id, len(sh) AS ln FROM shl),
       |sx AS (SELECT doc_id, unnest(sh) AS g FROM shl),
       |pint AS (
       |  -- snapshot < cutoff <= batch, so (s_id, b_id) is the ordered pair
       |  SELECT s.doc_id AS s_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sx s JOIN sx b ON s.g = b.g
       |  WHERE s.doc_id < $cutoff AND b.doc_id >= $cutoff
       |  GROUP BY s.doc_id, b.doc_id),
       |ver AS MATERIALIZED (
       |  SELECT c.b_id, c.s_id,
       |         CASE WHEN CAST(coalesce(i.inter, 0) AS DOUBLE) /
       |                   (lb.ln + ls.ln - coalesce(i.inter, 0)) >= $threshold
       |              THEN 1 ELSE 0 END AS dup
       |  FROM cand c
       |  JOIN sln lb ON lb.doc_id = c.b_id
       |  JOIN sln ls ON ls.doc_id = c.s_id
       |  LEFT JOIN pint i ON i.s_id = c.s_id AND i.b_id = c.b_id),
       |agg AS (SELECT b_id, sum(dup) AS nd FROM ver GROUP BY b_id)
       |SELECT dd.doc_id,
       |       CAST(coalesce(a.nd, 0) AS BIGINT) AS n_dup_snap,
       |       CAST(CASE WHEN coalesce(a.nd, 0) = 0 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.b_id
       |WHERE dd.doc_id >= $cutoff""".stripMargin

  /** Oracle for `multimodal_features`: replay of
    * [[graft.multimodal.Multimodal.decodeFeatures]]'s deterministic
    * stub — feature `d` of a media row is
    * `(hash64(bytes, 1000+d) >>> 11) / 2^53` as FLOAT. The hash runs
    * per (row, dim) with the dim-dependent seed mixed into the FNV
    * offset basis, then the splitmix finalizer; the division is by a
    * power of two (exact in binary FP) and double→float rounds
    * half-even in both engines, so features match bit-for-bit. */
  def multimodalOracle(dim: Int): String = {
    // fnvFold with a PER-ROW seed expression (1000 + d)
    val fold = s"list_reduce(list_prepend(xor($FnvOffset::HUGEINT, (1000 + d)::HUGEINT), " +
      "list_transform(list_filter(string_split(text, ''), c -> c <> ''), " +
      s"c -> unicode(c)::HUGEINT)), (h, b) -> ${mulmod("xor(h, b)", FnvPrime)})"
    val src = "(SELECT media_id, kind, n_bytes, d, " + fold + " AS h0 FROM " +
      s"""(SELECT doc_id AS media_id,
         |        CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         |        CAST(length(text) AS INT) AS n_bytes,
         |        CAST(unnest(range($dim)) AS INT) AS d,
         |        text
         | FROM documents) mm)""".stripMargin
    s"""SELECT media_id, kind, n_bytes, d,
       |       CAST(CAST((h // 2048) AS DOUBLE) / 9007199254740992.0 AS REAL) AS f
       |FROM ${finalize(src, "media_id, kind, n_bytes, d", "h0", "h")} mf""".stripMargin
  }

  /** Oracle for `phash_dedup`: replay of
    * [[graft.operators.Dedup.phashDedup]] over the multimodal stub's
    * features — dHash bit i = `f[i] > f[i+1]` over `featDim = dim+1`
    * features in the production `wrap = false` shape (`f[(i+1) mod
    * dim]` over `dim` features when wrapped — the narrow demo);
    * features are bit-exact per [[multimodalOracle]]'s argument and
    * float comparison is exact. Chunk-pair pigeonhole banding at the
    * hash's true `dim`-bit width, verify hamming ≤ maxHamming, roll
    * up to (media_id, ph, n_cand, n_dup, keep). Banding here is the
    * straightforward per-media DISTINCT-pair formulation — the
    * engine's group-collapse + first-band map-side dedup is a plan
    * optimization with the identical result. */
  def phashOracle(dim: Int, maxHamming: Int, featDim: Int = -1,
                  wrap: Boolean = true): String = {
    val nFeat = if (featDim > 0) featDim else dim
    require(nFeat >= (if (wrap) dim else dim + 1),
      s"dHash over $dim bits needs ${if (wrap) dim else dim + 1} features, got $nFeat")
    val fold = s"list_reduce(list_prepend(xor($FnvOffset::HUGEINT, (1000 + d)::HUGEINT), " +
      "list_transform(list_filter(string_split(text, ''), c -> c <> ''), " +
      s"c -> unicode(c)::HUGEINT)), (h, b) -> ${mulmod("xor(h, b)", FnvPrime)})"
    val src = "(SELECT media_id, d, " + fold + " AS h0 FROM " +
      s"""(SELECT doc_id AS media_id,
         |        CAST(unnest(range($nFeat)) AS INT) AS d,
         |        text
         | FROM documents) mm)""".stripMargin
    // bit 63 is Long.MinValue — spell it as an expression (a bare
    // -9223372036854775808 literal parses as HUGEINT) and assemble
    // bits with bitwise OR: they are disjoint, and DuckDB's checked
    // BIGINT `+` would raise on the sign bit where OR cannot
    def bitLit(i: Int): String =
      if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
    val bits = (0 until dim).map { i =>
      val succ = if (wrap) (i + 1) % dim + 1 else i + 2
      s"(CASE WHEN fs[${i + 1}] > fs[$succ] THEN ${bitLit(i)} ELSE 0 END)"
    }.mkString(" | ")
    val bands = graft.functions.Hashing.chunkPairBands(maxHamming, dim)
    // every chunk divisor below is a `1L << lo` BIGINT literal — at
    // lo = 63 (reachable: dim = 64, maxHamming = 62 passes the engine
    // require) the literal goes NEGATIVE and the unsigned-view chunk
    // extraction diverges from the engine's shiftrightunsigned; fail
    // fast instead of replaying a wrong oracle
    val topLo = bands.last._2._1
    require(topLo <= 62,
      s"phashOracle: chunk shift $topLo exceeds 62 — " +
        s"lower maxHamming (= $maxHamming) so all 1L << lo literals stay positive")
    // chunks extract from the UNSIGNED view (uph ∈ [0, 2^64) as
    // HUGEINT): BIGINT // and % are signed and go wrong on a set
    // bit 63 — this mirrors the engine's shiftrightunsigned
    def chunk(c: (Int, Int)): String = s"CAST((uph // ${1L << c._1}) % ${1L << c._2} AS BIGINT)"
    val bandExprs = bands.map { case (ci, cj) =>
      s"${chunk(ci)} * ${1L << cj._2} + ${chunk(cj)}"
    }
    s"""WITH feat AS (
       |  SELECT media_id, d,
       |         CAST(CAST((h // 2048) AS DOUBLE) / 9007199254740992.0 AS REAL) AS f
       |  FROM ${finalize(src, "media_id, d", "h0", "h")} mf),
       |fv AS (SELECT media_id, list(f ORDER BY d) AS fs FROM feat GROUP BY media_id),
       |phv AS MATERIALIZED (
       |  SELECT media_id, ph,
       |         CASE WHEN ph < 0 THEN ph::HUGEINT + 18446744073709551616
       |              ELSE ph::HUGEINT END AS uph
       |  FROM (SELECT media_id, CAST($bits AS BIGINT) AS ph FROM fv) phr),
       |bands AS MATERIALIZED (
       |  SELECT media_id, ph,
       |         unnest(range(${bandExprs.length})) AS ci,
       |         unnest([${bandExprs.mkString(", ")}]) AS cv
       |  FROM phv),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id, a.ph AS ap, b.ph AS bp
       |  FROM bands a JOIN bands b ON a.ci = b.ci AND a.cv = b.cv AND a.media_id < b.media_id),
       |ver AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |         CASE WHEN bit_count(xor(ap, bp)) <= $maxHamming THEN 1 ELSE 0 END AS dup
       |  FROM cand),
       |u AS (
       |  SELECT a_id AS media_id, dup, 0 AS dup_smaller FROM ver
       |  UNION ALL
       |  SELECT b_id AS media_id, dup, dup AS dup_smaller FROM ver)
       |SELECT p.media_id, p.ph,
       |       count(u.dup) AS n_cand,
       |       CAST(coalesce(sum(u.dup), 0) AS BIGINT) AS n_dup,
       |       CAST(CASE WHEN coalesce(sum(u.dup_smaller), 0) > 0 THEN 0 ELSE 1 END AS INT) AS keep
       |FROM phv p LEFT JOIN u ON u.media_id = p.media_id
       |GROUP BY p.media_id, p.ph""".stripMargin
  }

  /** Full-precision double literal (Java Double.toString round-trips,
    * DuckDB parses to the nearest double = the original). */
  private def dlit(d: Double): String = java.lang.Double.toString(d)

  /** Left-to-right double dot product of the embedding column with a
    * literal plane — same fold order as
    * [[graft.functions.VectorFunctions.dot]], expressed as a flat
    * left-associated `+` chain (SQL `+` parses left-assoc, so the
    * accumulation order matches the engine's scalar loop). The chain
    * form replaces a per-plane `list_reduce` lambda that DuckDB
    * evaluated ~400× slower — at the adaptive geometry's ~300 planes
    * that interpreted fold alone blew the sf1 oracle budget (r14
    * campaign: `dedup_embedding_lsh` oracle_timeout at 1800 s). The
    * two forms agree to the ULP on every x10 row measured, and the
    * only consumer is the `CASE WHEN dot > 0` sign, which ULP noise
    * cannot flip at these magnitudes. */
  private def dotLit(plane: Array[Double]): String =
    plane.zipWithIndex
      .map { case (c, i) => s"CAST(embedding[${i + 1}] AS DOUBLE) * ${dlit(c)}" }
      .mkString("(0.0::DOUBLE + ", " + ", ")")

  /** Left-to-right double fold of `Σ f(a[i], b[i])` over `dim`
    * elements — one independent accumulator of
    * [[graft.functions.VectorFunctions.cosineVsConst]]'s fused loop
    * (independent accumulators in one loop ≡ separate l2r folds). */
  private def fold2(f: (String, String) => String, a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"[${f(s"CAST($a[i] AS DOUBLE)", s"CAST($b[i] AS DOUBLE)")} for i in range(1, ${dim + 1})]), " +
      s"(acc, v) -> acc + v)"

  /** Bit-exact replay of the engine's cosine between two list columns
    * (same op order as `cosineVsConst`: xy / (√xx · √yy)). */
  private def cosCols(a: String, b: String, dim: Int): String =
    s"(${fold2((x, y) => s"$x * $y", a, b, dim)} / " +
      s"(sqrt(${fold2((x, _) => s"$x * $x", a, a, dim)}) * " +
      s"sqrt(${fold2((_, y) => s"$y * $y", b, b, dim)})))"

  /** Oracle for `kmeans_assign`: full replay of
    * [[graft.operators.Cluster.kmeansAssign]] — init = first k
    * vectors, per-iteration nearest-centroid assignment (cos desc,
    * cid asc) and per-dim DECIMAL(25,7)-summed centroid update
    * rounded once to FLOAT (empty clusters keep the previous
    * centroid), then the final assignment under the trained codebook.
    * Decimal sums are order-independent and both engines cast
    * double→decimal round-to-nearest (exact ties are impossible for
    * binary doubles at scale 7), so centroids match bit-for-bit. */
  private def kmAssignCte(name: String, cents: String, dim: Int,
                          e: String = "e"): String =
    s"""$name AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosCols("e.embedding", "c.cvec", dim)} DESC, c.cid) AS rn
       |    FROM $e e CROSS JOIN $cents c) t
       |  WHERE rn = 1)""".stripMargin

  private def kmUpdateCte(sums: String, next: String, assign: String, prev: String,
                          dim: Int, e: String = "e"): String =
    s"""$sums AS (
       |  SELECT a.cid, i.i AS d,
       |         sum(CAST(e.embedding[i.i] AS DECIMAL(25,7))) AS s
       |  FROM $e e JOIN $assign a USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) i
       |  GROUP BY a.cid, i.i),
       |$next AS (
       |  SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
       |  FROM $prev p LEFT JOIN (
       |    SELECT cid, list(CAST(s AS FLOAT) ORDER BY d) AS cvec
       |    FROM $sums GROUP BY cid) u USING (cid))""".stripMargin

  /** Deterministic training-sample CTE: rows of `src` whose splitmix64
    * id-bucket falls under `pct` — the replay of
    * [[graft.operators.Sampling.bucket]]`(vec_id, seed) < pct` that
    * the sample-bounded trainers key on. */
  private def trainSample(name: String, src: String, pct: Int, seed: Long): String =
    s"""$name AS (SELECT vec_id, embedding FROM
       |${hashLongCtes(src, "vec_id, embedding", "vec_id", seed, "__sh")} t
       |WHERE (__sh // 2) % 100 < $pct)""".stripMargin

  /** The Lloyd-iteration CTE chain shared by [[kmeansOracle]] and
    * [[annIvfTrainedOracle]]: `e`, `c0` … `c<iters>` (the trained
    * codebook). `trainPct` < 100 replays the engine's sample-bounded
    * training: iterations assign/update over the hash-sample `es`,
    * seeds and the final assignment stay on the full `e`. */
  private def kmeansCtes(k: Int, iters: Int, dim: Int,
                         trainPct: Int = 100, seed: Long = 0L): String = {
    val (sampleCte, tr) =
      if (trainPct >= 100) ("", "e")
      else (trainSample("es", "e", trainPct, seed) + ",\n", "es")
    val iterCtes = (0 until iters).map { it =>
      kmAssignCte(s"a$it", s"c$it", dim, tr) + ",\n" +
        kmUpdateCte(s"s$it", s"c${it + 1}", s"a$it", s"c$it", dim, tr)
    }
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |${sampleCte}c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM e WHERE vec_id < $k),
       |${iterCtes.mkString(",\n")}""".stripMargin
  }

  /** Per-subspace Lloyd chain for the PQ oracle: `e<sfx>` (the sliced
    * corpus), `c0<sfx>` … `c<iters><sfx>` (the trained sub-codebook).
    * Sample-bounded training mirrors [[kmeansCtes]]: ONE vector sample
    * (same pct/seed across subspaces) feeds every sub-training. */
  private def kmeansCtesSub(sfx: String, srcSelect: String, k: Int, iters: Int,
                            dim: Int, trainPct: Int = 100, seed: Long = 0L): String = {
    val e = s"e$sfx"
    val (sampleCte, tr) =
      if (trainPct >= 100) ("", e)
      else (trainSample(s"es$sfx", e, trainPct, seed) + ",\n", s"es$sfx")
    val iterCtes = (0 until iters).map { it =>
      kmAssignCte(s"a$it$sfx", s"c$it$sfx", dim, tr) + ",\n" +
        kmUpdateCte(s"s$it$sfx", s"c${it + 1}$sfx", s"a$it$sfx", s"c$it$sfx", dim, tr)
    }
    s"""$e AS ($srcSelect),
       |${sampleCte}c0$sfx AS (SELECT vec_id AS cid, embedding AS cvec FROM $e WHERE vec_id < $k),
       |${iterCtes.mkString(",\n")}""".stripMargin
  }

  /** Oracle for `ann_pq` / asymmetric-distance product quantization:
    * full replay of [[graft.operators.Ann.bruteTopKPq]] — m per-
    * subspace cosine-k-means trainings (same decimal-sum Lloyd replay
    * as [[kmeansOracle]], over `list_slice`d subvectors), per-vector
    * code assignment, then ADC scoring: exact query vs the
    * CONCATENATED chosen sub-centroids, computed as per-subspace
    * left-to-right folds summed in subspace order — the identical op
    * sequence the Spark plan evaluates, so scores (and therefore
    * ranks) are bit-exact. */
  def annPqOracle(m: Int, ksub: Int, iters: Int, nQueries: Int, k: Int,
                  dim: Int, trainPct: Int = 100, seed: Long = 0L): String = {
    require(dim % m == 0)
    val sub = dim / m
    val chains = (0 until m).map { s =>
      kmeansCtesSub(s"_$s",
        s"SELECT vec_id, list_slice(embedding, ${s * sub + 1}, ${(s + 1) * sub}) AS embedding FROM embeddings",
        ksub, iters, sub, trainPct, seed)
    }
    val finals = (0 until m).map { s =>
      kmAssignCte(s"af_$s", s"c$iters" + s"_$s", sub, s"e_$s")
    }
    val codeJoin = (1 until m).map(s => s"JOIN af_$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(s => s"af_$s.cid AS cid$s").mkString(", ")
    val centJoins = (0 until m).map(s => s"JOIN c$iters" + s"_$s cc$s ON cc$s.cid = x.cid$s").mkString(" ")
    val dots = (0 until m).map { s =>
      fold2((x, y) => s"$x * $y",
        s"list_slice(q.embedding, ${s * sub + 1}, ${(s + 1) * sub})", s"cc$s.cvec", sub)
    }.mkString("(", " + ", ")")
    val nrms = (0 until m).map { s =>
      fold2((x, y) => s"$x * $y", s"cc$s.cvec", s"cc$s.cvec", sub)
    }.mkString("(", " + ", ")")
    val qq = fold2((x, y) => s"$x * $y", "q.embedding", "q.embedding", dim)
    s"""WITH ${chains.mkString(",\n")},
       |${finals.mkString(",\n")},
       |codes AS (SELECT af_0.vec_id, $codeCols FROM af_0 $codeJoin),
       |q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.q_id, x.vec_id AS n_id,
       |         $dots AS dt, $qq AS qq, $nrms AS xh
       |  FROM q CROSS JOIN codes x $centJoins
       |  WHERE x.vec_id <> q.q_id),
       |sc AS (
       |  SELECT q_id, n_id,
       |         CASE WHEN qq = 0 OR xh = 0 THEN -2.0
       |              ELSE dt / (sqrt(qq) * sqrt(xh)) END AS cos
       |  FROM scored),
       |r AS (
       |  SELECT q_id, n_id,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM sc)
       |SELECT q_id, n_id, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Oracle for `dedup_semantic_keep`: the [[semanticDedupOracle]]
    * pair mining + recursive closure to components + keeper = lowest
    * member id (components are labeled by their min reachable id, so
    * keep ⇔ vec_id = comp — the same closure shape as `dedup_cc`). */
  def semanticCcKeepOracle(k: Int, iters: Int, dim: Int, threshold: Double,
                           trainPct: Int = 100, seed: Long = 0L): String =
    s"""WITH RECURSIVE ${kmeansCtes(k, iters, dim, trainPct, seed)},
       |${kmAssignCte("afin", s"c$iters", dim)},
       |pr AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM afin a
       |  JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN embeddings x ON x.vec_id = a.vec_id
       |  JOIN embeddings y ON y.vec_id = b.vec_id
       |  WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                               CAST(y.embedding AS DOUBLE[])) >= ${dlit(threshold)}),
       |eg AS (SELECT a_id AS u, b_id AS v FROM pr
       |       UNION SELECT b_id AS u, a_id AS v FROM pr),
       |reach AS (
       |  SELECT u, v FROM eg
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN eg e2 ON r.v = e2.u),
       |comp AS (SELECT u, least(u, min(v)) AS comp FROM reach GROUP BY u)
       |SELECT em.vec_id, coalesce(c.comp, em.vec_id) AS comp,
       |       CAST(CASE WHEN em.vec_id = coalesce(c.comp, em.vec_id)
       |                 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM embeddings em LEFT JOIN comp c ON em.vec_id = c.u""".stripMargin

  /** Oracle for `ann_ivfpq`: replay of
    * [[graft.operators.Ann.ivfPqTopK]] — the coarse trained-codebook
    * assignment/probing (the [[annIvfTrainedOracle]] replay) composed
    * with the per-subspace PQ training + ADC scoring (the
    * [[annPqOracle]] replay); only probed lists are scored. */
  def annIvfPqOracle(nlist: Int, citers: Int, nprobe: Int, m: Int, ksub: Int,
                     iters: Int, nQueries: Int, k: Int, dim: Int,
                     trainPct: Int = 100, seed: Long = 0L): String = {
    require(dim % m == 0)
    val sub = dim / m
    val chains = (0 until m).map { s =>
      kmeansCtesSub(s"_$s",
        s"SELECT vec_id, list_slice(embedding, ${s * sub + 1}, ${(s + 1) * sub}) AS embedding FROM embeddings",
        ksub, iters, sub, trainPct, seed)
    }
    val finals = (0 until m).map { s =>
      kmAssignCte(s"af_$s", s"c$iters" + s"_$s", sub, s"e_$s")
    }
    val codeJoin = (1 until m).map(s => s"JOIN af_$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(s => s"af_$s.cid AS cid$s").mkString(", ")
    val centJoins = (0 until m).map(s => s"JOIN c$iters" + s"_$s cc$s ON cc$s.cid = x.cid$s").mkString(" ")
    val dots = (0 until m).map { s =>
      fold2((x, y) => s"$x * $y",
        s"list_slice(q.embedding, ${s * sub + 1}, ${(s + 1) * sub})", s"cc$s.cvec", sub)
    }.mkString("(", " + ", ")")
    val nrms = (0 until m).map { s =>
      fold2((x, y) => s"$x * $y", s"cc$s.cvec", s"cc$s.cvec", sub)
    }.mkString("(", " + ", ")")
    val qq = fold2((x, y) => s"$x * $y", "q.embedding", "q.embedding", dim)
    s"""WITH ${kmeansCtes(nlist, citers, dim, trainPct, seed)},
       |${chains.mkString(",\n")},
       |${finals.mkString(",\n")},
       |codes AS (SELECT af_0.vec_id, $codeCols FROM af_0 $codeJoin),
       |assigned AS (
       |  SELECT vec_id AS n_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosCols("e.embedding", "c.cvec", dim)} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c$citers c) t
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, cid AS list_id FROM (
       |    SELECT e.vec_id AS q_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosCols("e.embedding", "c.cvec", dim)} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c$citers c WHERE e.vec_id < $nQueries) t
       |  WHERE rn <= $nprobe),
       |q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT p.q_id, a.n_id,
       |         $dots AS dt, $qq AS qq, $nrms AS xh
       |  FROM probes p
       |  JOIN assigned a USING (list_id)
       |  JOIN codes x ON x.vec_id = a.n_id
       |  JOIN q ON q.q_id = p.q_id
       |  $centJoins
       |  WHERE a.n_id <> p.q_id),
       |sc AS (
       |  SELECT q_id, n_id,
       |         CASE WHEN qq = 0 OR xh = 0 THEN -2.0
       |              ELSE dt / (sqrt(qq) * sqrt(xh)) END AS cos
       |  FROM scored),
       |r AS (
       |  SELECT q_id, n_id,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM sc)
       |SELECT q_id, n_id, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  def kmeansOracle(k: Int, iters: Int, dim: Int,
                   trainPct: Int = 100, seed: Long = 0L): String =
    s"""WITH ${kmeansCtes(k, iters, dim, trainPct, seed)},
       |${kmAssignCte("afin", s"c$iters", dim)}
       |SELECT vec_id, cid FROM afin""".stripMargin

  /** Oracle for `dedup_semantic`: replay of
    * [[graft.operators.Dedup.semanticPairs]] — the trained-codebook
    * assignment (same decimal-sum Lloyd + bit-exact [[cosCols]]
    * assignment replay as [[kmeansOracle]]), same-cluster candidate
    * self-join, exact-cosine verify on the raw vectors. The verify
    * cosine uses `list_cosine_similarity` (threshold comparison, not
    * a rank — safe at a non-boundary threshold, same argument as the
    * `dedup_embedding` oracle). */
  def semanticDedupOracle(k: Int, iters: Int, dim: Int, threshold: Double,
                          trainPct: Int = 100, seed: Long = 0L): String =
    s"""WITH ${kmeansCtes(k, iters, dim, trainPct, seed)},
       |${kmAssignCte("afin", s"c$iters", dim)}
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |FROM afin a
       |JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |JOIN embeddings x ON x.vec_id = a.vec_id
       |JOIN embeddings y ON y.vec_id = b.vec_id
       |WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                             CAST(y.embedding AS DOUBLE[])) >= ${dlit(threshold)}""".stripMargin

  /** Oracle for `dedup_semantic_scaled`: replay of
    * [[graft.operators.Dedup.semanticPairsScaled]]. Training runs
    * over the COLLAPSED representatives (`GROUP BY embedding`,
    * min-id rep — value-exact where the engine uses two independent
    * 64-bit hashes, same negligible-collision argument as every
    * group key here), with `k` already derived by the caller from
    * the same measured distinct count. The final assignment runs
    * over the FULL corpus against the trained codebook: a member
    * assigns exactly as its representative (identical embedding ⇒
    * identical bit-exact [[cosCols]] ranking), so the full-table
    * same-cluster self-join + cosine verify IS the engine's
    * reconstituted member pair set — intra pairs included (identical
    * vectors share a cluster; cos(v,v) ≥ t under NaN-is-greatest in
    * both engines). */
  def semanticScaledOracle(k: Int, iters: Int, dim: Int, threshold: Double,
                           trainPct: Int = 100, seed: Long = 0L): String =
    s"""WITH ${kmeansCtesSub("_g",
           "SELECT min(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding",
           k, iters, dim, trainPct, seed)},
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |${kmAssignCte("afin", s"c${iters}_g", dim)}
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |FROM afin a
       |JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |JOIN embeddings x ON x.vec_id = a.vec_id
       |JOIN embeddings y ON y.vec_id = b.vec_id
       |WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                             CAST(y.embedding AS DOUBLE[])) >= ${dlit(threshold)}""".stripMargin

  /** Oracle for `ann_ivf_trained`: IVF search over the k-means-TRAINED
    * codebook — the full loop (train → index → probe) replayed in SQL.
    * Every cosine uses the bit-exact [[cosCols]] replay: assignment
    * flips on sub-ulp differences with trained (non-corpus) centroids,
    * so `list_cosine_similarity`'s different fold order is not safe
    * here the way it is for `ann_ivf`'s raw-vector codebook. */
  def annIvfTrainedOracle(nlist: Int, iters: Int, nprobe: Int,
                          nQueries: Int, k: Int, dim: Int,
                          trainPct: Int = 100, seed: Long = 0L): String =
    s"""WITH ${kmeansCtes(nlist, iters, dim, trainPct, seed)},
       |assigned AS (
       |  SELECT vec_id AS n_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosCols("e.embedding", "c.cvec", dim)} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c$iters c) t
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, cid AS list_id FROM (
       |    SELECT e.vec_id AS q_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosCols("e.embedding", "c.cvec", dim)} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c$iters c WHERE e.vec_id < $nQueries) t
       |  WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.q_id, a.n_id,
       |         ${cosCols("q.embedding", "n.embedding", dim)} AS cos
       |  FROM probes p
       |  JOIN assigned a USING (list_id)
       |  JOIN e q ON q.vec_id = p.q_id
       |  JOIN e n ON n.vec_id = a.n_id
       |  WHERE a.n_id <> p.q_id),
       |r AS (
       |  SELECT q_id, n_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT q_id, n_id, rnk FROM r WHERE rnk <= $k""".stripMargin

  /** Oracle for `ann_lsh` (adaptive-geometry form): replay of
    * [[graft.operators.Ann.lshTopKBanded]] — per-band sign buckets
    * from the same literal hyperplanes, asymmetric band-bucket join
    * (query side restricted to the first `nQueries` ids; DISTINCT ≡
    * the engine's map-side first-matching-band dedup), exact-cosine
    * rank, top k. */
  def annLshBandedOracle(planes: Array[Array[Double]], bands: Int, planesPerBand: Int,
                         nQueries: Int, k: Int): String = {
    val bandExprs = (0 until bands).map { b =>
      (0 until planesPerBand).map { i =>
        s"(CASE WHEN ${dotLit(planes(b * planesPerBand + i))} > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    }
    s"""WITH e AS (SELECT vec_id, [${bandExprs.mkString(",\n  ")}] AS bks FROM embeddings),
       |bb AS MATERIALIZED (SELECT vec_id, unnest(range($bands)) AS band, unnest(bks) AS bk FROM e),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM bb q JOIN bb c ON q.band = c.band AND q.bk = c.bk
       |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |p AS (
       |  SELECT q_id, n_id,
       |         list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                                CAST(y.embedding AS DOUBLE[])) AS cos
       |  FROM cand
       |  JOIN embeddings x ON x.vec_id = q_id
       |  JOIN embeddings y ON y.vec_id = n_id),
       |r AS (
       |  SELECT q_id, n_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM p)
       |SELECT q_id, n_id, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Oracle for `dedup_embedding_lsh`: replay of
    * [[graft.operators.Dedup.embeddingPairsLsh]] — per-band sign
    * buckets from the same literal hyperplanes, band-bucket self-join
    * for candidates (DISTINCT here ≡ the engine's map-side
    * first-matching-band dedup), exact-cosine verify. */
  def embeddingLshOracle(planes: Array[Array[Double]], bands: Int, planesPerBand: Int,
                         threshold: Double): String = {
    val bandExprs = (0 until bands).map { b =>
      (0 until planesPerBand).map { i =>
        s"(CASE WHEN ${dotLit(planes(b * planesPerBand + i))} > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    }
    s"""WITH e AS (SELECT vec_id, [${bandExprs.mkString(",\n  ")}] AS bks FROM embeddings),
       |bb AS MATERIALIZED (SELECT vec_id, unnest(range($bands)) AS band, unnest(bks) AS bk FROM e),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bb a JOIN bb b ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id)
       |SELECT a_id, b_id
       |FROM cand
       |JOIN embeddings x ON x.vec_id = a_id
       |JOIN embeddings y ON y.vec_id = b_id
       |WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                             CAST(y.embedding AS DOUBLE[])) >= $threshold""".stripMargin
  }

  /** Oracle for `ann_pareto`: the recall/cost sweep replayed — brute
    * ground truth once, LSH buckets once, one shared IVF assignment +
    * probe ranking reused by every nprobe row; per (method, knob) the
    * total exact count, hit count vs ground truth, and candidate
    * (scored) count, all exact integers. Formulations are verbatim
    * the per-index oracles' (`ann_topk`/`ann_lsh`/`ann_ivf`), so this
    * row hashes iff those do. The `lsh_adaptive` rows replay the
    * graded [[graft.operators.Ann.lshTopKAdaptive]] geometry swept
    * across [[graft.operators.Ann.adaptiveBandSweep]]'s band-count
    * knobs (`bandVariants` — measured-cardinality derived, so this
    * oracle is Verify-generated, not static SQL); each variant's
    * `n_scored` is its banded candidate-pair count, the cost axis of
    * the recall contract. */
  def annParetoOracle(planes: Array[Array[Double]], nQueries: Int, k: Int,
                      nlist: Int, nprobes: Seq[Int],
                      bandVariants: Seq[(Int, Array[Array[Double]])],
                      planesPerBand: Int): String = {
    val bucketExpr = planes.zipWithIndex
      .map { case (p, i) => s"(CASE WHEN ${dotLit(p)} > 0 THEN ${1 << i} ELSE 0 END)" }
      .mkString(" + ")
    def bandExprsFor(bands: Int, bandedPlanes: Array[Array[Double]]): Seq[String] =
      (0 until bands).map { b =>
        (0 until planesPerBand).map { i =>
          s"(CASE WHEN ${dotLit(bandedPlanes(b * planesPerBand + i))} > 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString(" + ")
      }
    val maxNp = nprobes.max
    val perNp = nprobes.map { np =>
      s"""ic$np AS (
         |  SELECT p.q_id, a.vec_id AS n_id,
         |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                CAST(n.embedding AS DOUBLE[])) AS cos
         |  FROM prk p
         |  JOIN assigned a ON a.list_id = p.list_id
         |  JOIN embeddings q ON q.vec_id = p.q_id
         |  JOIN embeddings n ON n.vec_id = a.vec_id
         |  WHERE p.rn <= $np AND a.vec_id <> p.q_id),
         |it$np AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM ic$np) t
         |  WHERE rnk <= $k)""".stripMargin
    }.mkString(",\n")
    val npRows = nprobes.map { np =>
      s"""SELECT 'ivf' AS method, CAST($np AS INT) AS knob,
         |       (SELECT n_exact FROM nex) AS n_exact,
         |       CAST((SELECT count(*) FROM it$np t JOIN ex USING (q_id, n_id)) AS BIGINT) AS n_hit,
         |       CAST((SELECT count(*) FROM ic$np) AS BIGINT) AS n_scored""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH bp AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                CAST(c.embedding AS DOUBLE[])) AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM bp) t
       |  WHERE rnk <= $k),
       |nex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
       |ncorp AS (SELECT CAST((count(*) - 1) * $nQueries AS BIGINT) AS n_scored FROM embeddings),
       |le AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
       |lc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                CAST(c.embedding AS DOUBLE[])) AS cos
       |  FROM le q JOIN le c ON q.bucket = c.bucket
       |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |lt AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM lc) t
       |  WHERE rnk <= $k),
       |${bandVariants.map { case (bands, bandedPlanes) =>
           s"""be$bands AS (SELECT vec_id, [${bandExprsFor(bands, bandedPlanes).mkString(",\n  ")}] AS bks FROM embeddings),
              |bbb$bands AS MATERIALIZED (SELECT vec_id, unnest(range($bands)) AS band, unnest(bks) AS bk FROM be$bands),
              |bcand$bands AS (
              |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
              |  FROM bbb$bands q JOIN bbb$bands c ON q.band = c.band AND q.bk = c.bk
              |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
              |blc$bands AS (
              |  SELECT q_id, n_id,
              |         list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
              |                                CAST(y.embedding AS DOUBLE[])) AS cos
              |  FROM bcand$bands
              |  JOIN embeddings x ON x.vec_id = q_id
              |  JOIN embeddings y ON y.vec_id = n_id),
              |blt$bands AS (
              |  SELECT q_id, n_id FROM (
              |    SELECT q_id, n_id,
              |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
              |    FROM blc$bands) t
              |  WHERE rnk <= $k)""".stripMargin
         }.mkString(",\n")},
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < $nlist),
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                    CAST(c.c_emb AS DOUBLE[])) DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cent c) t
       |  WHERE rn = 1),
       |prk AS (
       |  SELECT q_id, cid AS list_id, rn FROM (
       |    SELECT e.vec_id AS q_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                    CAST(c.c_emb AS DOUBLE[])) DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < $nQueries) t
       |  WHERE rn <= $maxNp),
       |$perNp
       |SELECT 'brute' AS method, CAST(0 AS INT) AS knob,
       |       (SELECT n_exact FROM nex) AS n_exact,
       |       (SELECT n_exact FROM nex) AS n_hit,
       |       (SELECT n_scored FROM ncorp) AS n_scored
       |UNION ALL
       |SELECT 'lsh' AS method, CAST(0 AS INT) AS knob,
       |       (SELECT n_exact FROM nex) AS n_exact,
       |       CAST((SELECT count(*) FROM lt t JOIN ex USING (q_id, n_id)) AS BIGINT) AS n_hit,
       |       CAST((SELECT count(*) FROM lc) AS BIGINT) AS n_scored
       |UNION ALL
       |${bandVariants.map { case (bands, _) =>
           s"""SELECT 'lsh_adaptive' AS method, CAST($bands AS INT) AS knob,
              |       (SELECT n_exact FROM nex) AS n_exact,
              |       CAST((SELECT count(*) FROM blt$bands t JOIN ex USING (q_id, n_id)) AS BIGINT) AS n_hit,
              |       CAST((SELECT count(*) FROM blc$bands) AS BIGINT) AS n_scored""".stripMargin
         }.mkString("\nUNION ALL\n")}
       |UNION ALL
       |$npRows""".stripMargin
  }

  /** Oracle for `ann_ivf`: centroids = first `nlist` vectors, nearest-
    * centroid assignment (cos desc, cid asc), `nprobe` probe lists per
    * query, cosine top-k within probed lists. */
  def annIvfOracle(nlist: Int, nprobe: Int, nQueries: Int, k: Int): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < $nlist),
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                    CAST(c.c_emb AS DOUBLE[])) DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cent c) t
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, cid AS list_id FROM (
       |    SELECT e.vec_id AS q_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                    CAST(c.c_emb AS DOUBLE[])) DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < $nQueries) t
       |  WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                CAST(n.embedding AS DOUBLE[])) AS cos
       |  FROM probes p
       |  JOIN assigned a ON a.list_id = p.list_id
       |  JOIN embeddings q ON q.vec_id = p.q_id
       |  JOIN embeddings n ON n.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.q_id),
       |r AS (
       |  SELECT q_id, n_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT q_id, n_id, rnk FROM r WHERE rnk <= $k""".stripMargin

  /** Oracle for `join_size_est`: the KMV set-operation estimator
    * ([[graft.operators.Sketch.joinSizeEst]]) — both key sketches
    * replayed, kmin of their union, the both-sketches membership
    * ratio, and `ratio · est_union`, op order identical. */
  def joinSizeOracle(k: Int, seed: Long): String = {
    val scale = dlit((k - 1).toDouble * math.pow(2.0, 63))
    s"""WITH av AS (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL),
       |bv AS (SELECT DISTINCT c_custkey AS v FROM customer
       |       WHERE c_custkey IS NOT NULL AND c_acctbal > 5000),
       |am AS (SELECT DISTINCT h % 9223372036854775808 AS h63
       |       FROM ${hashLongCtes("av", "v", "v", seed, "h")} t1),
       |ar AS (SELECT h63, row_number() OVER (ORDER BY h63) AS rn FROM am),
       |ka AS (SELECT h63 FROM ar WHERE rn <= $k),
       |bm AS (SELECT DISTINCT h % 9223372036854775808 AS h63
       |       FROM ${hashLongCtes("bv", "v", "v", seed, "h")} t2),
       |br AS (SELECT h63, row_number() OVER (ORDER BY h63) AS rn FROM bm),
       |kb AS (SELECT h63 FROM br WHERE rn <= $k),
       |um AS (SELECT DISTINCT h63 FROM
       |        (SELECT h63 FROM ka UNION ALL SELECT h63 FROM kb) z),
       |ur AS (SELECT h63, row_number() OVER (ORDER BY h63) AS rn FROM um),
       |u AS (SELECT h63 FROM ur WHERE rn <= $k),
       |nu AS (SELECT count(*) AS n_u, CAST(max(h63) AS BIGINT) AS kth FROM u),
       |ni AS (SELECT count(*) AS n_i FROM u JOIN ka USING (h63) JOIN kb USING (h63)),
       |st AS (SELECT (SELECT count(*) FROM ka) AS n_a_kept,
       |              (SELECT count(*) FROM kb) AS n_b_kept),
       |ex AS (SELECT count(*) AS exact_common
       |       FROM (SELECT v FROM av INTERSECT SELECT v FROM bv) q),
       |sel AS (SELECT n_a_kept, n_b_kept, CAST(n_i AS BIGINT) AS n_inter,
       |          CASE WHEN n_u < $k THEN CAST(n_u AS DOUBLE)
       |               ELSE $scale / CAST(kth AS DOUBLE) END AS est_union,
       |          CAST(n_i AS DOUBLE) / CAST(n_u AS DOUBLE) AS ratio
       |        FROM nu, ni, st)
       |SELECT n_a_kept, n_b_kept, n_inter, est_union,
       |       ratio * est_union AS est_common, exact_common,
       |       abs(((ratio * est_union) - CAST(exact_common AS DOUBLE)) /
       |           CAST(exact_common AS DOUBLE)) AS rel_err
       |FROM sel, ex""".stripMargin
  }

  /** Oracle for `table_stats`: per-column count/null/min/max, the KMV
    * NDV replay ([[kmvOracle]] pattern, one block per column), exact
    * NDV and the measured error — mirrors
    * [[graft.operators.Sketch.tableStatsChecked]]. */
  def tableStatsOracle(table: String, cols: Seq[String], k: Int,
                       seed: Long): String = {
    val scale = dlit((k - 1).toDouble * math.pow(2.0, 63))
    val blocks = cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  (SELECT count($c) FROM $table) AS n_vals,
         |  (SELECT count(*) - count($c) FROM $table) AS n_null,
         |  (SELECT CAST(min($c) AS DOUBLE) FROM $table) AS min_v,
         |  (SELECT CAST(max($c) AS DOUBLE) FROM $table) AS max_v,
         |  (SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
         |               ELSE $scale / CAST(max(h63) AS DOUBLE) END
         |   FROM (SELECT h63, row_number() OVER (ORDER BY h63) AS rn
         |         FROM (SELECT DISTINCT h % 9223372036854775808 AS h63
         |               FROM ${hashLongCtes(
                             s"(SELECT DISTINCT $c AS v FROM $table WHERE $c IS NOT NULL)",
                             "v", "v", seed, "h")} t) m) r
         |   WHERE rn <= $k) AS ndv_est,
         |  (SELECT count(DISTINCT $c) FROM $table) AS ndv_exact""".stripMargin
    }
    s"""SELECT u.*, abs((ndv_est - CAST(ndv_exact AS DOUBLE)) /
       |               CAST(ndv_exact AS DOUBLE)) AS rel_err
       |FROM (
       |${blocks.mkString("\nUNION ALL\n")}
       |) u""".stripMargin
  }

  /** Oracle for `zorder_key`: the Morton interleave
    * ([[graft.operators.ZOrder.zValue]]) as plain integer arithmetic —
    * bit i of x lands at 2i, bit i of y at 2i+1. */
  def zorderOracle(bits: Int): String = {
    val terms = (0 until bits).flatMap { i =>
      Seq(s"((x // ${1L << i}) % 2) * ${BigInt(1) << (2 * i)}",
          s"((y // ${1L << i}) % 2) * ${BigInt(1) << (2 * i + 1)}")
    }.mkString(" + ")
    s"""WITH b AS (SELECT l_orderkey, l_linenumber,
       |  l_partkey % 65536 AS x, l_suppkey % 65536 AS y FROM lineitem)
       |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zk FROM b""".stripMargin
  }

  /** Oracle for `page_rank`: replay of the deterministic integer
    * PageRank ([[graft.operators.Graph.pageRank]]) — synthetic edge
    * graph from event ids (src = splitmix64(id, 21) % n, dst =
    * splitmix64(id, 22) % (src+1)), `iters` unrolled Lloyd-style
    * iteration CTEs, all integer arithmetic (`//` floor division
    * matches Spark's `div` on nonnegative ranks). */
  def pageRankOracle(n: Int, iters: Int, initRank: Long, topK: Int): String = {
    val base = initRank * 15L / 100L
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST($base + (85 * coalesce(s.sc, 0)) // 100 AS BIGINT) AS pr
         |FROM n LEFT JOIN (
         |  SELECT e.dst AS node, sum(r.pr // d.deg) AS sc
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH ids AS (SELECT event_id FROM events),
       |s1 AS (SELECT event_id, CAST((h // 2) % $n AS BIGINT) AS src
       |       FROM ${hashLongCtes("ids", "event_id", "event_id", 21L, "h")} a),
       |s2 AS (SELECT src, CAST((h // 2) % (src + 1) AS BIGINT) AS dst
       |       FROM ${hashLongCtes("s1", "event_id, src", "event_id", 22L, "h")} b),
       |edges AS (SELECT DISTINCT src, dst FROM s2),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |n AS (SELECT CAST(unnest(range($n)) AS BIGINT) AS node),
       |r0 AS (SELECT node, CAST($initRank AS BIGINT) AS pr FROM n),
       |$iterCtes
       |SELECT node, pr FROM r$iters ORDER BY pr DESC, node LIMIT $topK""".stripMargin
  }

  /** Oracle for `lm_score`: replay of
    * [[graft.operators.Corpus.lmBigramScore]] — add-one-smoothed
    * corpus bigram model, mean LINEAR probability (ln is libm — see
    * the Scala doc), per-bigram probabilities fixed-point-quantized
    * before the order-free integer per-doc sum. `trainPct` < 100
    * replays the sample-bounded training: counts (c2, c1, V) come
    * from the splitmix64 doc_id-hash sample, every doc is scored, and
    * bigrams/unigrams unseen in the sample take the add-one floor
    * (the coalesce(…, 0) legs — the model semantics, matching the
    * engine bit-for-bit). */
  def lmScoreOracle(trainPct: Int, seed: Long): String = {
    val sd =
      if (trainPct >= 100) "SELECT doc_id FROM documents"
      else
        s"""SELECT doc_id
           |      FROM ${hashLongCtes("documents", "doc_id", "doc_id", seed, "h")} t
           |      WHERE (h // 2) % 100 < $trainPct""".stripMargin
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sd AS ($sd),
       |b AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
       |            THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
       |            ELSE CAST([] AS VARCHAR[]) END) AS bg FROM d),
       |db AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
       |c2 AS (SELECT bg, CAST(sum(n) AS BIGINT) AS c2
       |       FROM db JOIN sd USING (doc_id) GROUP BY bg),
       |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1
       |       FROM (SELECT unnest(w) AS term FROM d JOIN sd USING (doc_id)) GROUP BY term),
       |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
       |bgv AS (SELECT DISTINCT bg FROM db),
       |p AS (SELECT bgv.bg,
       |        CAST(floor(1e9 * (CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
       |                          CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE))) AS BIGINT) AS p_fp
       |      FROM bgv LEFT JOIN c2 USING (bg)
       |      LEFT JOIN c1 ON string_split(bgv.bg, ' ')[1] = c1.term CROSS JOIN v),
       |pd AS (SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_bigrams,
       |              CAST(sum(db.n * p.p_fp) AS BIGINT) AS sum_fp
       |       FROM db JOIN p USING (bg) GROUP BY db.doc_id)
       |SELECT docs.doc_id,
       |       COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       |       COALESCE(pd.sum_fp, 0) AS sum_fp,
       |       CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
       |            THEN CAST(pd.sum_fp AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE)
       |       END AS lm_score
       |FROM documents docs LEFT JOIN pd ON docs.doc_id = pd.doc_id""".stripMargin
  }

  /** Oracle for `lm_score_bucket`: replay of
    * [[graft.operators.Corpus.lmBucketScore]] — per-occurrence bigram
    * hash (hash64 of `w1 w2`, seed 3 — the [[fingerprintOracle]]
    * convention) bucketed `(h // 2) % buckets`, add-one-smoothed
    * bucket-occupancy ratios in pure HUGEINT fixed point over the
    * doc-hash training sample, mean ratio per doc as ONE exact double
    * division. */
  def lmBucketOracle(buckets: Int, trainPct: Int, seed: Long): String = {
    val sd =
      if (trainPct >= 100) "SELECT doc_id FROM documents"
      else
        s"""SELECT doc_id
           |      FROM ${hashLongCtes("documents", "doc_id", "doc_id", seed, "h")} t
           |      WHERE (h // 2) % 100 < $trainPct""".stripMargin
    val bgHash = finalize(
      "(SELECT doc_id, " + fnvFold("bg", 3) + " AS h0 FROM bgs)",
      "doc_id", "h0", "h")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sd AS ($sd),
       |bgs AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
       |             THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
       |             ELSE CAST([] AS VARCHAR[]) END) AS bg
       |        FROM d),
       |bh AS (SELECT doc_id, CAST((h // 2) % $buckets AS BIGINT) AS b FROM $bgHash t),
       |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS cb
       |       FROM bh JOIN sd USING (doc_id) GROUP BY b),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bh JOIN sd USING (doc_id)),
       |rb AS (SELECT CAST(unnest(range($buckets)) AS BIGINT) AS b),
       |rt AS (SELECT rb.b,
       |              (1000000000::HUGEINT * (coalesce(cb.cb, 0) + 1)) //
       |                (tot.n + $buckets) AS r_fp
       |       FROM rb LEFT JOIN cb USING (b) CROSS JOIN tot),
       |pd AS (SELECT bh.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |              CAST(sum(rt.r_fp) AS BIGINT) AS sum_fp
       |       FROM bh JOIN rt USING (b) GROUP BY bh.doc_id)
       |SELECT docs.doc_id,
       |       COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       |       COALESCE(pd.sum_fp, 0) AS sum_fp,
       |       CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
       |            THEN CAST(pd.sum_fp AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE)
       |       END AS lm_score
       |FROM documents docs LEFT JOIN pd ON docs.doc_id = pd.doc_id""".stripMargin
  }

  /** Oracle for `dsir_weights`: replay of
    * [[graft.operators.Corpus.dsirWeights]] — per-doc distinct hashed
    * bigrams (hash64 of `w1_w2`, seed 3 — the [[cmsOracle]] feature
    * convention) bucketed `(h // 2) % buckets`, add-one-smoothed
    * target-vs-raw count ratios in fixed point (pure HUGEINT
    * arithmetic — the engine's DECIMAL(38) integral division), mean
    * ratio per doc as ONE exact double division. `targetWhere` is the
    * SQL twin of the engine's target predicate — interpolated from
    * the same constant at the call site so they cannot drift. */
  private def dsirCtes(buckets: Int, targetWhere: String): String = {
    val bgHash = finalize(
      "(SELECT doc_id, " + fnvFold("bg", 3) + " AS h0 FROM bgs)",
      "doc_id", "h0", "h")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bgs AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 2
       |             THEN [w[i] || '_' || w[i+1] for i in range(1, len(w))]
       |             ELSE CAST([] AS VARCHAR[]) END)) AS bg
       |        FROM d),
       |gb AS (SELECT doc_id, CAST((h // 2) % $buckets AS BIGINT) AS b FROM $bgHash bh),
       |cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS qc,
       |               CAST(count(*) FILTER (WHERE $targetWhere) AS BIGINT) AS tc
       |        FROM gb GROUP BY b),
       |tot AS (SELECT CAST(sum(qc) AS BIGINT) AS q, CAST(sum(tc) AS BIGINT) AS t FROM cnt),
       |r AS (SELECT b,
       |        (1000000000::HUGEINT * (tc + 1) * (q + $buckets)) //
       |          ((qc + 1)::HUGEINT * (t + $buckets)) AS r_fp
       |      FROM cnt CROSS JOIN tot),
       |pd AS (SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |              CAST(sum(r.r_fp) AS BIGINT) AS sum_fp
       |       FROM gb JOIN r USING (b) GROUP BY gb.doc_id),
       |wts AS (SELECT docs.doc_id,
       |               COALESCE(pd.n_feat, 0) AS n_feat,
       |               COALESCE(pd.sum_fp, 0) AS sum_fp,
       |               CASE WHEN COALESCE(pd.n_feat, 0) > 0
       |                    THEN CAST(pd.sum_fp AS DOUBLE) / CAST(pd.n_feat AS DOUBLE)
       |               END AS dsir_w
       |        FROM documents docs LEFT JOIN pd ON docs.doc_id = pd.doc_id)""".stripMargin
  }

  def dsirOracle(buckets: Int, targetWhere: String): String =
    s"""WITH ${dsirCtes(buckets, targetWhere)}
       |SELECT doc_id, n_feat, sum_fp, dsir_w FROM wts""".stripMargin

  /** Oracle for `dsir_sample`: the [[dsirOracle]] weight chain composed
    * with the `weighted_sample` replay (priority = 63-bit splitmix
    * hash / weight, per-stratum rank) — the full importance-resampling
    * pipeline in one statement. Weightless docs (no features) are
    * outside the population, per the engine's weightedSample
    * contract. */
  def dsirSampleOracle(buckets: Int, targetWhere: String, n: Int,
                       seed: Long): String =
    s"""WITH ${dsirCtes(buckets, targetWhere)},
       |pop AS (SELECT w.doc_id, docs.lang, w.dsir_w
       |        FROM wts w JOIN documents docs USING (doc_id)
       |        WHERE w.dsir_w IS NOT NULL AND w.dsir_w > 0),
       |hh AS (SELECT * FROM ${hashLongCtes("pop", "doc_id, lang, dsir_w", "doc_id", seed, "h")} t),
       |pr AS (SELECT doc_id, lang, dsir_w,
       |              CAST(h % 9223372036854775808 AS DOUBLE) / dsir_w AS priority
       |       FROM hh),
       |rk AS (SELECT doc_id, lang, dsir_w, priority,
       |              CAST(row_number() OVER (PARTITION BY lang
       |                     ORDER BY priority, doc_id) AS INT) AS rk
       |       FROM pr)
       |SELECT doc_id, lang, dsir_w, priority, rk FROM rk WHERE rk <= $n""".stripMargin

  /** Oracle for `heavy_hitters_cms`: replay of the Count-Min doc-
    * frequency sketch ([[graft.operators.Sketch.heavyHittersCms]]) —
    * per-doc distinct bigram hashes (hash64 of `w1_w2`, seed 3, the
    * [[graft.functions.Hashing.HashedShinglesN]] convention), one
    * depth×width counter matrix (row r's cell = splitmix64(bg, seed=r)
    * → `(h//2) % width`), estimate = min over the item's depth cells,
    * candidates from the 1-in-`sampleMod` doc_id hash sample. All
    * integer arithmetic — bit-exact. */
  def cmsOracle(depth: Int, width: Int, minCount: Long, sampleMod: Int,
                seed: Long): String = {
    val bgHash = finalize(
      "(SELECT doc_id, " + fnvFold("bg", 3) + " AS h0 FROM bgs)",
      "doc_id", "h0", "h")
    val cells = (0 until depth).map { r =>
      s"""SELECT bg, df, $r AS r, CAST((h // 2) % $width AS BIGINT) AS cell
         |FROM ${hashLongCtes("dfc", "bg, df", "bg", r.toLong, "h")} c$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bgs AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 2
       |             THEN [w[i] || '_' || w[i+1] for i in range(1, len(w))]
       |             ELSE CAST([] AS VARCHAR[]) END)) AS bg
       |        FROM d),
       |items AS (SELECT doc_id, ${signed("h")} AS bg FROM $bgHash bh),
       |dfc AS (SELECT bg, CAST(count(*) AS BIGINT) AS df FROM items GROUP BY bg),
       |cm AS (
       |$cells),
       |cc AS (SELECT r, cell, CAST(sum(df) AS BIGINT) AS c FROM cm GROUP BY r, cell),
       |est AS (SELECT cm.bg, CAST(min(cc.c) AS BIGINT) AS est, min(cm.df) AS df
       |        FROM cm JOIN cc USING (r, cell) GROUP BY cm.bg),
       |ids AS (SELECT doc_id FROM documents),
       |sampled AS (SELECT doc_id
       |            FROM ${hashLongCtes("ids", "doc_id", "doc_id", seed, "h")} s
       |            WHERE (h // 2) % $sampleMod = 0),
       |cand AS (SELECT DISTINCT bg FROM items JOIN sampled USING (doc_id))
       |SELECT e.bg, e.est, e.df
       |FROM est e JOIN cand USING (bg)
       |WHERE e.est >= $minCount""".stripMargin
  }

  /** Oracle for `distinct_kmv`: replay of the KMV distinct sketch
    * ([[graft.operators.Sketch.distinctKmvChecked]]) — splitmix64 of
    * each distinct user_id, mask to [0, 2⁶³), k smallest per
    * event_type, estimate (k−1)·2⁶³/kth. DISTINCT is taken on the
    * MASKED hash (the sketch dedups hashes, so a 63-bit collision
    * collapses in both engines identically). */
  def kmvOracle(k: Int, seed: Long): String = {
    val scale = dlit((k - 1).toDouble * math.pow(2.0, 63))
    s"""WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events
       |               WHERE user_id IS NOT NULL),
       |m AS (SELECT DISTINCT event_type, h % 9223372036854775808 AS h63
       |      FROM ${hashLongCtes("pairs", "event_type", "user_id", seed, "h")} t),
       |r AS (SELECT event_type, h63,
       |             row_number() OVER (PARTITION BY event_type ORDER BY h63) AS rn
       |      FROM m),
       |kept AS (SELECT event_type AS stratum, count(*) AS n_kept,
       |                CAST(max(h63) AS BIGINT) AS kth_min
       |         FROM r WHERE rn <= $k GROUP BY event_type),
       |est AS (SELECT stratum, n_kept, kth_min,
       |               CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |                    ELSE $scale / CAST(kth_min AS DOUBLE) END AS est_distinct
       |        FROM kept),
       |ex AS (SELECT event_type AS stratum,
       |              count(DISTINCT user_id) AS exact_distinct
       |       FROM events GROUP BY event_type)
       |SELECT e.stratum, n_kept, kth_min, est_distinct, exact_distinct,
       |       abs((est_distinct - CAST(exact_distinct AS DOUBLE)) /
       |           CAST(exact_distinct AS DOUBLE)) AS rel_err
       |FROM est e JOIN ex USING (stratum)""".stripMargin
  }

  // --------------------------------------------------------------------
  // BPE oracle (token_count_bpe / doc_chunk_bpe / seq_pack_bpe)
  // --------------------------------------------------------------------

  /** SQL string literal (single quotes doubled; DuckDB standard strings
    * don't interpret backslashes, so nothing else needs escaping). */
  private def slit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Shared CTE scaffold for the BPE-budget oracles: replays
    * [[graft.functions.Bpe.encodeWord]]'s greedy merge loop in DuckDB
    * as a recursive CTE over each distinct pre-token, with the TRAINED
    * merge table embedded as literal lists (the SQL is generated by
    * `graft.Verify` per run, so the table always matches the corpus
    * the queries trained on — same plan-constant discipline as the ANN
    * codebook oracles above). Encoding is verified end-to-end and
    * independently; training determinism is pinned by BpeSpec's serial
    * reference (the loop itself — 200 sequential global argmax
    * aggregations — is not expressible as a single SQL statement).
    *
    * Replay mechanics, mirroring Bpe.scala exactly:
    *  - pre-tokens: the same GPT-2-style pattern (Java∩RE2 subset);
    *  - symbols: code points (`regexp_extract_all(w, '(?s).')` — RE2
    *    `.` matches one code point, as does the Scala split);
    *  - pair lookup: the length-prefixed key (code-point length — the
    *    embedded keys are generated with `codePointCount`, matching
    *    DuckDB's `length()`); `list_position` is 1-based, 0 on miss,
    *    so `nullif(..,0)` makes rank order equal list order;
    *  - one recursion step = one merge pass: lowest-rank pair, ALL
    *    occurrences left-to-right non-overlapping. The scan's
    *    left-bias is position parity inside each maximal run of
    *    consecutive matches (`taken[k] ⇔ match[k] ∧ even(k − d[k] − 1)`
    *    where d[k] is the last non-match before k) — equivalent
    *    because taking position p consumes p and p+1 and resumes at
    *    p+2;
    *  - rows with no applicable pair stop recursing; the final piece
    *    list per word is the max-iteration row (QUALIFY).
    */
  def bpeEncodeCtes(m: graft.functions.BpeMerges): String = {
    def listLit(xs: Seq[String]): String =
      if (xs.isEmpty) "CAST([] AS VARCHAR[])"
      else xs.map(slit).mkString("[", ", ", "]")
    val keys = m.pairs.map { case (a, b) =>
      a.codePointCount(0, a.length).toString + ":" + a + b
    }
    val pat = slit(graft.functions.Bpe.preTokenPattern)
    s"""WITH RECURSIVE
       |mt AS (SELECT ${listLit(keys)} AS ks,
       |              ${listLit(m.pairs.map(_._1))} AS ls,
       |              ${listLit(m.pairs.map(_._2))} AS rs),
       |pretok AS (
       |  SELECT doc_id, unnest(l) AS pt, unnest(range(1, len(l) + 1)) AS pi
       |  FROM (SELECT doc_id, regexp_extract_all(text, $pat) AS l FROM documents) tp),
       |bwords AS (SELECT DISTINCT pt AS w FROM pretok),
       |enc AS (
       |  SELECT w, regexp_extract_all(w, '(?s).') AS syms, 0 AS it FROM bwords
       |  UNION ALL
       |  SELECT w,
       |    list_filter(list_transform(range(1, len(syms) + 1), k ->
       |      CASE WHEN taken[k] THEN syms[k] || syms[k + 1]
       |           WHEN k > 1 AND taken[k - 1] THEN NULL
       |           ELSE syms[k] END), x -> x IS NOT NULL) AS syms,
       |    it + 1 AS it
       |  FROM (
       |    SELECT w, syms, it,
       |      list_transform(range(1, len(syms)), k ->
       |        matches[k] AND ((k - coalesce(list_max(
       |          list_filter(range(1, k), j -> NOT matches[j])), 0) - 1) % 2 = 0)) AS taken
       |    FROM (
       |      SELECT w, syms, it,
       |        list_transform(range(1, len(syms)), k ->
       |          syms[k] = a AND syms[k + 1] = b) AS matches
       |      FROM (
       |        SELECT w, syms, it, mt.ls[bp] AS a, mt.rs[bp] AS b
       |        FROM (
       |          SELECT w, syms, it,
       |            list_min(list_transform(range(1, len(syms)), k ->
       |              nullif(list_position(mt.ks,
       |                CAST(length(syms[k]) AS VARCHAR) || ':' || syms[k] || syms[k + 1]), 0))) AS bp
       |          FROM enc, mt
       |        ) bq1, mt
       |        WHERE bp IS NOT NULL
       |      ) bq2
       |    ) bq3
       |  ) bq4
       |),
       |encf AS (SELECT w, syms FROM enc
       |         QUALIFY row_number() OVER (PARTITION BY w ORDER BY it DESC) = 1)""".stripMargin
  }

  /** Oracle for `token_count_bpe`: per-doc BPE token count =
    * Σ pieces over the doc's pre-tokens (docs with no pre-token → 0,
    * matching `Bpe.countKernel` on empty text). */
  def bpeCountOracle(m: graft.functions.BpeMerges): String =
    s"""${bpeEncodeCtes(m)}
       |SELECT dd.doc_id, CAST(coalesce(sum(len(e.syms)), 0) AS INT) AS n_bpe
       |FROM documents dd
       |LEFT JOIN pretok p ON p.doc_id = dd.doc_id
       |LEFT JOIN encf e ON e.w = p.pt
       |GROUP BY dd.doc_id""".stripMargin

  /** Oracle for `doc_chunk_bpe`: the doc's ordered piece stream
    * (pre-token order × piece order), windowed exactly like
    * [[graft.operators.Corpus.chunkBpe]] — stride = maxTok − overlap,
    * ⌈max(1, n − overlap)/stride⌉ chunks, chunk text = pieces
    * concatenated with no separator. */
  def bpeChunkOracle(m: graft.functions.BpeMerges, maxTok: Int, overlap: Int): String = {
    val stride = maxTok - overlap
    s"""${bpeEncodeCtes(m)},
       |docp AS (
       |  SELECT p.doc_id, flatten(list(e.syms ORDER BY p.pi)) AS toks
       |  FROM pretok p JOIN encf e ON e.w = p.pt GROUP BY p.doc_id),
       |allp AS (
       |  SELECT dd.doc_id, coalesce(dp.toks, CAST([] AS VARCHAR[])) AS w
       |  FROM documents dd LEFT JOIN docp dp ON dp.doc_id = dd.doc_id),
       |bc AS (SELECT doc_id, w,
       |              greatest(1, CAST(ceil(CAST(len(w) - $overlap AS DOUBLE) / $stride) AS BIGINT)) AS n_chunks
       |       FROM allp),
       |bx AS (SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM bc),
       |bs AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |              w[(chunk_idx*$stride + 1):(chunk_idx*$stride + $maxTok)] AS chunk
       |       FROM bx)
       |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS chunk_tok,
       |       array_to_string(chunk, '') AS chunk_text
       |FROM bs""".stripMargin
  }

  /** Oracle for `seq_pack_bpe`: per-doc BPE token count, then the same
    * streaming-packer window as the `seq_pack` oracle (cumulative
    * tokens before each doc in (shard, doc_id) order; pack = cum div
    * budget). */
  def bpePackOracle(m: graft.functions.BpeMerges, budgetTok: Int): String =
    s"""${bpeEncodeCtes(m)},
       |bn AS (
       |  SELECT dd.doc_id, dd.source AS shard,
       |         CAST(coalesce(sum(len(e.syms)), 0) AS BIGINT) AS n_tok
       |  FROM documents dd
       |  LEFT JOIN pretok p ON p.doc_id = dd.doc_id
       |  LEFT JOIN encf e ON e.w = p.pt
       |  GROUP BY dd.doc_id, dd.source),
       |bw AS (
       |  SELECT doc_id, shard, n_tok,
       |         coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
       |  FROM bn)
       |SELECT doc_id, shard, n_tok,
       |       CAST(tok_before // $budgetTok AS BIGINT) AS pack_id,
       |       CAST(tok_before % $budgetTok AS BIGINT) AS pack_off
       |FROM bw""".stripMargin
}
