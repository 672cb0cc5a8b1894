package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

import graft.functions.{Hashing, TextFunctions}

/** Watermarked event-stream aggregations (SURVEY §2 B3) — the
  * "populating live views / analytics without re-querying MySQL" use
  * case from the reference README, done the Structured-Streaming way.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type with a watermark.
    * `events` needs (ts: timestamp, event_type, value). Append mode:
    * windows close once the watermark passes, giving exactly-once
    * window results to the sink. */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_val"))

  /** Windowed approximate distinct-users per event type (SURVEY §2
    * B20): the streaming twin of the batch `distinct_kmv` — the SAME
    * [[graft.functions.Sketches.KMinValues]] typed aggregate runs
    * inside the streaming state store, so per-(window, type) distinct
    * state is k longs FOREVER regardless of how many users the window
    * sees (exact streaming count-distinct state grows with the
    * distinct count — the precise failure mode sketches exist for).
    * Append mode: a window's estimate emits once, when the watermark
    * closes it. */
  def windowedDistinctUsers(events: DataFrame, windowDur: String = "1 hour",
                            watermark: String = "10 minutes", k: Int = 256,
                            seed: Long = 7L): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(graft.functions.Sketches.kMinValues(
        graft.functions.Hashing.hashLong64(col("user_id"), seed), k).as("kmv"))
      .select(col("window.start").as("start"), col("event_type"),
        size(col("kmv")).cast("long").as("n_kept"),
        graft.operators.Sketch.kmvEstimate(col("kmv"), k).as("est_distinct"))

  /** Windowed Count-Min bigram sketch on the live path (SURVEY §2
    * B21): the streaming twin of the batch `heavy_hitters_cms` — the
    * SAME [[graft.functions.Sketches.CountMinSketch]] typed aggregate
    * runs inside the streaming state store, so per-window frequency
    * state is one depth×width counter matrix FOREVER, regardless of
    * the window's vocabulary (exact streaming per-item counting grows
    * state with the vocabulary — the failure mode the sketch
    * removes). The emitted matrix answers any later point query via
    * [[graft.operators.Sketch.cmsEstimate]] — consumers choose their
    * probes after the fact, which per-item state could only do by
    * keeping everything. Append mode: one matrix per window, when the
    * watermark closes it. `docs` needs (ts: timestamp, text). */
  def windowedTokenSketch(docs: DataFrame, windowDur: String = "1 hour",
                          watermark: String = "10 minutes",
                          depth: Int = 4, width: Int = 512): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(Hashing.hashedShinglesNCol(
        TextFunctions.tokens(col("text")), 2)).as("bg"))
      .groupBy(window(col("ts"), windowDur))
      .agg(graft.functions.Sketches.countMin(col("bg"), depth, width).as("cms"))
      .select(col("window.start").as("start"), col("cms"))

  /** Live 3σ anomaly flags (SURVEY §2 B22): the streaming twin of the
    * batch `ts_anomaly` — arriving windows are flagged against a
    * BROADCAST per-key moments frame (`(event_type, nh, s1, s2)`,
    * typically the batch [[graft.analytics.Analytics.tsAnomaly]]
    * stats over a reference period). Stream-static broadcast join +
    * the SAME integer-exact test `(n·nh − s1)² > 9·(nh·s2 − s1²)` —
    * no float at the flag boundary, so live and batch flags agree
    * bit-for-bit on the same data. Append mode: a window is judged
    * once, when the watermark closes it. */
  def anomalyFlags(events: DataFrame, stats: DataFrame,
                   windowDur: String = "1 hour",
                   watermark: String = "10 minutes"): DataFrame = {
    val dev = col("n") * col("nh") - col("s1")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("event_type"), col("n"))
      .join(broadcast(stats), "event_type")
      .select(col("start"), col("event_type"), col("n"),
        when(dev * dev > (col("nh") * col("s2") - col("s1") * col("s1")) * 9, lit(1))
          .otherwise(lit(0)).as("anomaly"))
  }

  /** Streaming exact dedup on document content (SURVEY §2 B10): the
    * ingest-time twin of [[graft.operators.Dedup.exact]]. State is
    * keyed by the 8-byte content fingerprint, NOT the text —
    * `dropDuplicates` state stores the dedup columns, so keying on the
    * fingerprint keeps the state store at ~16 bytes/doc instead of
    * whole bodies (the same body-never-shuffles rule the batch dedup
    * follows). The event-time watermark bounds state: a duplicate
    * arriving later than `watermark` after the original may pass —
    * that's the documented at-scale trade (unbounded streaming dedup
    * state is a 100 TB non-starter); the batch MinHash/exact pass
    * downstream catches stragglers. */
  def dedupDocs(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.functions.Hashing.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** One funnel event: (user, event type, event-time micros). */
  case class FunnelEvent(userId: Long, etype: String, ts: Long)

  /** A user advancing to `stage` (1-based) at `ts`. */
  case class FunnelAdvance(userId: Long, stage: Int, ts: Long)

  /** B31: streaming funnel — the live twin of the batch `user_funnel`
    * (C7): each user's progression through the ordered `stages`
    * (view → click → purchase) tracked across micro-batches, an
    * append-mode row emitted EXACTLY when a user reaches the next
    * stage (so the sink's max stage per user is the batch funnel's
    * answer, and stage-k counts are live conversion counts). State is
    * ONE int per user — the highest stage reached — so the store is
    * user-count-sized regardless of event volume; events sort by
    * event time within a (user, micro-batch) group, so intra-batch
    * reordering can't skip or double-count a stage; a stage-k event
    * arriving before stage-k-1 simply doesn't advance (the funnel's
    * definition, not an error).
    *
    * `idleTtlMs`: with 0 (default) a user's stage counter lives in the
    * state store forever — that IS the funnel's definition, but the
    * store then grows with every user that EVER appeared. A positive
    * TTL drops users silent for that long ([[KeyedFold.Idle]], re-armed
    * on every call): a churned user who returns past the horizon
    * restarts the funnel from stage 0. Processing time bounds the store
    * even when traffic STOPS; [[funnelStagesEventTtl]] is the
    * event-time twin for deployments where the watermark is the only
    * clock allowed to expire state. The per-user per-batch event list
    * is materialized on the heap for the sort — fine at per-user
    * volumes, which are human-action-sized by construction. */
  def funnelStages(events: Dataset[FunnelEvent],
                   stages: Seq[String] = Seq("view", "click", "purchase"),
                   idleTtlMs: Long = 0): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    foldFunnel(events.groupByKey(_.userId), stages, KeyedFold.idle(idleTtlMs))(identity)
  }

  /** [[funnelStages]] with an EVENT-TIME idle TTL
    * ([[KeyedFold.EventTime]], re-armed from the newest event of each
    * call): a user's stage counter expires when the WATERMARK passes
    * their last event's time + `idleTtlMs`. `watermark` is the lateness
    * bound on `ts` (interpreted as event-time MICROS, the
    * [[FunnelEvent]] contract); timer resolution is the watermark's
    * granularity. Advance semantics are identical to [[funnelStages]]. */
  def funnelStagesEventTtl(events: Dataset[FunnelEvent],
                           stages: Seq[String] = Seq("view", "click", "purchase"),
                           idleTtlMs: Long = 3600000L,
                           watermark: String = "10 minutes"): Dataset[FunnelAdvance] = {
    require(idleTtlMs > 0, s"funnelStagesEventTtl: idleTtlMs=$idleTtlMs must be > 0")
    import events.sparkSession.implicits._
    val grouped = events
      .withColumn("ets", timestamp_micros(col("ts")))
      .withWatermark("ets", watermark)
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    foldFunnel(grouped, stages, KeyedFold.EventTime(idleTtlMs))(e => FunnelEvent(e._1, e._2, e._3))
  }

  /** The stage fold of [[funnelStages]] and [[funnelStagesEventTtl]];
    * every call re-arms `expiry` from its newest event (millis). */
  private def foldFunnel[V](grouped: KeyValueGroupedDataset[Long, V], stages: Seq[String],
                            expiry: KeyedFold.Expiry)(event: V => FunnelEvent)(
      implicit intEnc: Encoder[Int], advEnc: Encoder[FunnelAdvance]): Dataset[FunnelAdvance] =
    KeyedFold(grouped, OutputMode.Append, expiry) {
      (user: Long, rows: Iterator[V], state: GroupState[Int]) =>
        val out = Seq.newBuilder[FunnelAdvance]
        var cur = state.getOption.getOrElse(0)
        var maxTsMs = Long.MinValue
        rows.map(event).toSeq.sortBy(e => (e.ts, e.etype)).foreach { e =>
          if (cur < stages.length && e.etype == stages(cur)) {
            cur += 1
            out += FunnelAdvance(user, cur, e.ts)
          }
          maxTsMs = math.max(maxTsMs, e.ts / 1000L)
        }
        state.update(cur)
        expiry.arm(state, maxTsMs)
        out.result().iterator
    }

  /** B30: windowed corpus quantiles — the live twin of the batch
    * quantile sketch (`group_quantiles`/`corpus_quantiles`): per
    * event-time window, a deterministic bottom-k-by-hash sample rides
    * the streaming state store ([[Sketches.BottomKSample]] — k·16 B
    * per window forever, re-delivery a no-op) and the
    * interpolation-free index-rule quantiles come off the sample —
    * so a window's streamed profile EQUALS the batch sketch computed
    * over the same rows (spec-pinned). Append mode: a window's
    * deciles emit exactly once, when the watermark closes it. */
  def windowedQuantiles(docs: DataFrame, windowDur: String = "1 hour",
                        watermark: String = "10 minutes", k: Int = 200,
                        quantiles: Seq[Double] =
                          Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(graft.functions.Sketches.bottomKSample(
        Hashing.hashLong64(col("doc_id"), 77L), col("n_chars").cast("long"), k).as("vals"))
      // a window whose rows were all NULL produces an empty sample —
      // index floor(q·(size-1))+1 would be 0 and element_at throws, so
      // such windows emit nothing rather than crash the query
      .where(size(col("vals")) > 0)
      .select(col("window.start").as("start"),
        explode(typedlit(quantiles)).as("q"), col("vals"))
      .select(col("start"), col("q"),
        element_at(col("vals"),
          (floor(col("q") * (size(col("vals")) - 1)) + 1).cast("int")).as("v"))

  /** B32: live token-budget accounting — per-window BPE token totals
    * over a document stream, with the corpus-trained merge table as a
    * plan constant ([[graft.functions.Bpe]]): the tokens/hour gauge an
    * ingest pipeline watches against its training-data budget, in the
    * SAME tokenizer units the batch chunk/pack operators spend. The
    * aggregate is an ordinary windowed sum (bpe_count is a map-side
    * codegen'd expression), so state per window is two longs. Append
    * mode: a window's totals emit once, at watermark close. */
  def windowedTokenBudget(docs: DataFrame, merges: graft.functions.BpeMerges,
                          windowDur: String = "1 hour",
                          watermark: String = "10 minutes"): DataFrame =
    docs
      // NULL-text rows carry no tokens and must not make the window's
      // sum NULL (the all-NULL-window class windowedQuantiles guards);
      // dropping them also keeps n_docs = docs actually counted
      .where(col("text").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.Bpe.bpeCount(col("text"), merges).cast("long"))
          .as("n_tokens"))
      .select(col("window.start").as("start"), col("n_docs"), col("n_tokens"))

  /** B29: incremental streaming dedup against an INGESTED SNAPSHOT —
    * the live twin of [[graft.operators.Dedup.incremental]], for the
    * crawl that never stops: a doc survives iff its content
    * fingerprint is neither in the static snapshot nor seen earlier
    * in the stream (within the watermark horizon, the bounded-state
    * contract of [[dedupDocs]]).
    *
    * Two-stage snapshot check, same shape as the batch op: a Bloom
    * filter of the snapshot's fingerprints rides every executor as a
    * plan constant — definite-new rows (most of a fresh crawl) skip
    * the verify entirely; possible-seen rows are exactly verified by
    * a stream-static LEFT ANTI join (re-planned per micro-batch, so
    * snapshot updates between batches are picked up). False positives
    * die in the anti-join, so the result is exact. `snapshotFps` is a
    * (fp: long) frame — 8 B/row, the distilled form a 100 TB corpus
    * snapshot keeps precisely for this. */
  def dedupDocsAgainstSnapshot(docs: DataFrame, snapshotFps: DataFrame,
                               watermark: String = "1 hour",
                               mBits: Int = 1 << 16, kHashes: Int = 4): DataFrame = {
    val words = graft.operators.Bloom.buildBits(snapshotFps, col("fp"), mBits, kHashes)
    val keyed = docs.withColumn("fp", Hashing.fingerprint(col("text")))
    val hit = graft.operators.Bloom.mightContain(col("fp"), words, mBits, kHashes)
    val definiteNew = keyed.filter(!hit)
    val verified = keyed.filter(hit)
      .join(snapshotFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")
    definiteNew.unionByName(verified)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming gap-based sessionization (SURVEY §2 B11) — the live
    * twin of the batch `sessionize` query (C5), via Spark's native
    * `session_window` (merging event-time windows with a gap timeout):
    * no hand-rolled state, watermark-bounded, append-mode — a session
    * row emits exactly once, when the watermark passes its close. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"))

  /** Watermarked stream-stream interval join (SURVEY §2 B12): each
    * purchase pairs with the same user's views from the preceding
    * hour. Both sides carry watermarks and the join condition bounds
    * event time in BOTH directions — that's what lets Spark expire
    * join state instead of buffering either stream forever (the
    * unbounded-state trap of naive stream joins). */
  def purchaseViewJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_val"))
      .withWatermark("purchase_ts", "10 minutes")
    p.join(v,
      p("user_id") === v("user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .drop(v("user_id"))
  }

  /** One LSH band-bucket hit: `doc_id` landed in a bucket owned by
    * `owner` (owner == doc_id means this doc claimed the bucket). */
  case class BandHit(doc_id: Long, band: Int, owner: Long)

  /** One perceptual band hit: media row vs its band-bucket's OWNER,
    * with the exact hamming distance between their dHashes —
    * `hamming <= maxHamming` IS the verified near-dup verdict, so no
    * downstream re-verify pass is needed. */
  case class PhashHit(media_id: Long, band: Int, owner: Long, hamming: Int)

  /** B18c: streaming PERCEPTUAL near-dup for media — the phash twin
    * of [[nearDupBandHits]], closing the streaming×multimodal corner:
    * each media row's decoded feature vector dHashes to a `dim`-bit
    * perceptual hash (the [[graft.operators.Dedup.phashDedup]]
    * kernel), chunk-pair pigeonhole bands key the state store, and
    * each (band, bucket) remembers its first-seen OWNER id AND the
    * owner's hash — so every later hit is emitted WITH its exact
    * hamming distance to the owner (verified in-flight; the batch
    * twin's bit_count verify, folded into the stateful op). State per
    * bucket is 16 bytes under [[nearDupBandHits]]'s event-time TTL.
    *
    * Input columns: (media_id, ts, features). Output: one
    * [[PhashHit]] per (row, band) — `hamming ≤ maxHamming` rows are
    * verified near-dups of the owner; a per-media rollup mirrors
    * [[nearDupSink]]. */
  def phashBandHits(media: DataFrame, dim: Int = 16, maxHamming: Int = 2,
                    watermark: String = "10 minutes",
                    stateTtlMs: Long = 2L * 3600 * 1000,
                    wrap: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // the shared dHash kernel: 64-bit production shape is wrap=false
    // over dim+1 features; bits OR-assemble (Dedup.phashCol)
    val ph = graft.operators.Dedup.phashCol(dim, wrap)
    // the batch miner's banding, guard included (Hashing.chunkPairBands)
    val bandArr = Hashing.chunkPairBandsCol(col("ph"), maxHamming, dim)
    val rows = media
      .withWatermark("ts", watermark)
      .select(col("media_id"), col("ts"), ph.as("ph"))
      .select(col("media_id"), col("ts"), col("ph"),
        posexplode(bandArr).as(Seq("band", "bh")))
      .as[(Long, java.sql.Timestamp, Long, Int, Long)]
    bandOwners(rows, stateTtlMs)(r => (r._4, r._5), _._1, _._2.getTime, r => (r._1, r._3)) {
      (r, owner) => PhashHit(r._1, r._4, owner._1, java.lang.Long.bitCount(r._3 ^ owner._2))
    }
  }

  /** One embedding band hit: `vec_id` collided with bucket `owner` in
    * `band`; `cos` is the EXACT cosine between the row's embedding
    * and the owner's, verified in-flight — `cos >= threshold` IS the
    * near-dup verdict, no downstream re-verify pass. */
  case class EmbHit(vec_id: Long, band: Int, owner: Long, cos: Double)

  /** Scalar twin of [[graft.functions.VectorFunctions.cosine]]
    * (CosineF32): same one-loop xy/xx/yy accumulation order in
    * double, so an in-flight verdict here equals the batch verify's
    * for the same pair (zero-norm → NaN, same as the column form). */
  private def cosineOf(a: Seq[Float], b: Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      xy += x * y; xx += x * x; yy += y * y
      i += 1
    }
    xy / (math.sqrt(xx) * math.sqrt(yy))
  }

  /** B18d (r17 verdict stretch #8): streaming SEMANTIC near-dup — the
    * ingest-time twin of [[graft.operators.Dedup.embeddingPairsLsh]],
    * closing the streaming × embedding corner of the modality ×
    * lifecycle matrix. Each row's embedding sign-hashes into `bands`
    * hyperplane buckets through the SAME deterministic
    * [[graft.functions.VectorFunctions.signBuckets]] kernel (and the
    * same [[graft.operators.Ann.hyperplanes]] seed) the batch miner
    * uses, so a doc flagged here collides with the same peers the
    * batch pass would pair it with. State is keyed by (band, bucket)
    * and remembers the first-seen OWNER id AND its embedding, so
    * every later collision emits WITH its exact cosine to the owner —
    * the B18c in-flight-verify pattern over embeddings.
    *
    * State per bucket is 8 B + one dim-float vector (dim 64 → ~264 B)
    * — bounded per OCCUPIED bucket, never per row, under
    * [[nearDupBandHits]]'s event-time TTL (a near-dup arriving later
    * than the TTL may pass, and the batch pass downstream catches it).
    * Geometry is a
    * PARAMETER, not measured — a stream has no corpus cardinality to
    * pre-measure; size it at deploy time from the expected resident
    * cardinality with [[graft.operators.Dedup.lshGeometry]] (the 8×6
    * default mirrors the batch unit shape). Same-micro-batch
    * collisions resolve deterministically (lowest vec_id claims).
    *
    * Input columns: (vec_id, ts, embedding). Output: one [[EmbHit]]
    * per (row, band) hit (Update mode); roll up per doc like
    * [[nearDupSink]]. */
  def embeddingBandHits(vecs: DataFrame, bands: Int = 8, planesPerBand: Int = 6,
                        dim: Int = 64, watermark: String = "10 minutes",
                        stateTtlMs: Long = 2L * 3600 * 1000): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && planesPerBand <= 30,
      s"bucket must fit an int: bands=$bands planesPerBand=$planesPerBand")
    val spark = vecs.sparkSession
    import spark.implicits._
    val planes = graft.operators.Ann.hyperplanes(bands * planesPerBand, dim)
    val rows = vecs
      .withWatermark("ts", watermark)
      .select(col("vec_id"), col("ts"), col("embedding"),
        posexplode(graft.functions.VectorFunctions.signBuckets(
          col("embedding"), planes, bands, planesPerBand)).as(Seq("band", "bk")))
      .as[(Long, java.sql.Timestamp, Seq[Float], Int, Long)]
    bandOwners(rows, stateTtlMs)(r => (r._4, r._5), _._1, _._2.getTime, r => (r._1, r._3)) {
      (r, owner) => EmbHit(r._1, r._4, owner._1, cosineOf(r._3, owner._2))
    }
  }

  /** Streaming NEAR-duplicate detection (SURVEY §2 B18): the
    * ingest-time twin of [[graft.operators.Dedup.minhashLsh]]. Each
    * doc's MinHash signature is banded exactly like the batch
    * operator; state is keyed by (band, band_hash) and remembers the
    * FIRST doc_id that claimed that bucket — a later doc colliding in
    * ANY band reports that bucket's owner. Same-micro-batch
    * collisions resolve deterministically (lowest doc_id claims).
    *
    * State discipline at scale: an entry is (16 B key, 8 B owner) per
    * DISTINCT occupied bucket — never text, signatures, or shingles
    * (the same body-never-shuffles rule as everywhere else). Buckets
    * expire under [[KeyedFold.EventTime]]: `stateTtlMs` past the
    * newest event time of the bucket's latest hit, on the `ts`
    * watermark, bounding the store the same way [[dedupDocs]]'s
    * watermark does — a near-dup arriving later than the TTL may pass,
    * and the batch MinHash pass downstream catches it. The three
    * `*BandHits` miners share this retention contract ([[bandOwners]]).
    *
    * Emits band-level hits (Update mode); roll up per doc with
    * [[nearDupSink]]. Docs with fewer than 3 tokens have no shingles
    * and are filtered exactly like the batch operator's `grp_ok`
    * gate (empty-set Jaccard is not a match). */
  def nearDupBandHits(docs: DataFrame, numHashes: Int = 128, bands: Int = 16,
                      watermark: String = "10 minutes",
                      stateTtlMs: Long = 2L * 3600 * 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    // the watermark-tagged `ts` attribute must flow INTO the stateful
    // operator itself (projecting it to a long would strip the tag
    // and fail the event-time-timeout analysis check)
    val exploded = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        Hashing.hashedShingles3Col(TextFunctions.tokens(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("ts"),
        posexplode(Hashing.bandHashes(Hashing.minhash(col("sh"), numHashes),
          bands, rows)).as(Seq("band", "bh")))
      .as[(Long, java.sql.Timestamp, Int, Long)]
    bandOwners(exploded, stateTtlMs)(r => (r._3, r._4), _._1, _._2.getTime, _._1) {
      (r, owner) => BandHit(r._1, r._3, owner)
    }
  }

  /** The bucket-owner fold of the `*BandHits` miners: rows are grouped
    * by (band, bucket), the lowest `id` of the first batch that reaches
    * a bucket claims it (`claim` is the stored owner state), and every
    * row is reported against that owner by `hit`, which may verify the
    * row against the owner's state. Each call re-arms the bucket's
    * event-time timer from the newest `tsMs` of its rows. */
  private def bandOwners[R, S: Encoder, H: Encoder](rows: Dataset[R], stateTtlMs: Long)(
      bucket: R => (Int, Long), id: R => Long, tsMs: R => Long, claim: R => S)(
      hit: (R, S) => H): DataFrame = {
    import rows.sparkSession.implicits._
    val expiry = KeyedFold.EventTime(stateTtlMs)
    KeyedFold(rows.groupByKey(bucket), OutputMode.Update, expiry) {
      (_: (Int, Long), it: Iterator[R], state: GroupState[S]) =>
        val batch = it.toIndexedSeq
        if (!state.exists) state.update(claim(batch.minBy(id)))
        val owner = state.get
        expiry.arm(state, batch.iterator.map(tsMs).max)
        batch.iterator.map(hit(_, owner))
    }.toDF()
  }

  /** Per-doc rollup of [[nearDupBandHits]]: one row per doc per
    * micro-batch with `dup_of` = the lowest foreign bucket owner over
    * all its bands (NULL ⇒ novel). Replay-idempotent like
    * [[routeWithDlq]]: a batch overwrites its own `batch=<id>` dir. */
  def nearDupSink(hits: DataFrame, outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hits.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        batch.groupBy(col("doc_id"))
          .agg(min(when(col("owner") =!= col("doc_id"), col("owner"))).as("dup_of"))
          .withColumn("is_dup", col("dup_of").isNotNull)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
    }

  /** Streaming dead-letter routing (SURVEY §2 B17): the live twin of
    * the batch `cdc_dlq` query — the reference's `:error` row type on
    * the streaming path (`src/dumpr/stream.clj:196-210` emits error
    * rows inline when schema load/validation fails, so one poison row
    * never kills the stream).
    *
    * Each micro-batch is split ONCE: rows failing validation land in
    * the DLQ sink carrying their reason; everything else normalizes
    * onward. Both sinks are replay-idempotent without any table
    * format: a batch OVERWRITES its own deterministic `batch=<id>`
    * subdirectory, so a foreachBatch replay after a crash rewrites
    * identical files instead of appending duplicates (same convention
    * as [[UpsertSink]]'s version directories). The split is two
    * filters over one persisted batch — the batch is scanned once
    * from the source, not twice. */
  def routeWithDlq(events: DataFrame, goodDir: String, dlqDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.operators.Materialize.scoped { s =>
        val b = s.persist(batch)
        val bad = graft.cdc.RowFormat.deadLetter(b)
        val good = graft.cdc.RowFormat.normalize(b)
          .join(bad.select(col("pos")), Seq("pos"), "left_anti")
        bad.write.mode("overwrite").parquet(s"$dlqDir/batch=$batchId")
        good.write.mode("overwrite").parquet(s"$goodDir/batch=$batchId")
      }
      ()
    }
}
