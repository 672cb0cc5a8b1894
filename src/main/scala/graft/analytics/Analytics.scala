package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Analytics / live-view queries — the reference's stated use cases
  * ("building live views of data for caching or analytics",
  * reference `README.md`) expressed as Catalyst plans sized for 100 TB.
  *
  * Float discipline: money aggregates are summed as DECIMAL (exact,
  * order-independent — a parallel double sum is not reproducible across
  * partition schedules) and only cast to double at the very end.
  * Timestamps are compared/bucketed as epoch microseconds so ns→µs
  * parquet truncation can never skew a result.
  */
object Analytics {

  private val dec2 = DecimalType(18, 2)
  private val dec6 = DecimalType(18, 6)

  /** Session-timezone (UTC) parsed literal — independent of JVM tz. */
  private def ts(s: String) = to_timestamp(lit(s))

  /** Discounted revenue, summed exactly. */
  private def revenue = sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec6))

  /** TPC-H Q1-style pricing summary: one full scan, partial aggregation
    * map-side, 6 columns read out of 11 (check `ReadSchema`). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec2)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec2)).cast("double").as("sum_base"),
        revenue.cast("double").as("sum_disc"),
        (sum(col("l_quantity").cast(dec2)).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("n")
      )

  /** TPC-H Q3-style: two fact joins + a filtered customer join,
    * deterministic top-10 (total order via revenue desc, orderkey).
    * No forced broadcast: customer scales with the fact tables, so the
    * hint that helps at sf0.1 OOMs the build side at 100×. AQE
    * broadcasts at runtime whenever the filtered side is actually
    * small. */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
      .join(
        Tables.orders(s, dir).filter(col("o_orderdate") < ts("1998-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(
        Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_orderpriority"))
      .agg(revenue.cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** TPC-H Q5-style 6-way star join. Only the constant-cardinality
    * dims (region = 5 rows, nation = 25 rows at every SF) carry an
    * explicit broadcast; customer and supplier SCALE with the data, so
    * their joins are left to the planner — AQE broadcasts them when
    * the runtime size is small and shuffles when it isn't, which is
    * the only strategy that survives a 100× scale-up. */
  def q5SupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nations = Tables.nation(s, dir)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
    Tables.lineitem(s, dir)
      .join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1997-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenue.cast("double").as("revenue"))
  }

  /** Top-3 parts by retail price per brand — window row_number with a
    * total-order tiebreak; one shuffle by brand. */
  def topNPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  /** Gap-based sessionization (30 min) — the canonical event-stream
    * view. Two windows over one shuffle by user_id; all arithmetic in
    * epoch micros (exact longs). */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id").as("pos"), expr("ts div 1000").as("us"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("pos"))
    e.withColumn("prev", lag(col("us"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, lit(1)).otherwise(lit(0)))
      .withColumn("sid", sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"), max(col("us")).as("end_us"))
  }

  /** Tumbling hourly aggregates per event type (batch twin of the
    * streaming windowed agg). Bucket = integer division on micros. */
  def eventWindowedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 1000").as("us"), col("value"))
      .withColumn("hour_bucket", expr("us div 3600000000"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(dec2)).cast("double").as("sum_val"))

  /** Per-user signup→view→purchase funnel via conditional aggregates —
    * one shuffle by user, no joins. */
  def userFunnel(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        min(when(col("event_type") === "view", col("us"))).as("first_view"),
        min(when(col("event_type") === "purchase", col("us"))).as("first_purchase")
      )
      .withColumn("converted",
        when(col("first_view").isNotNull && col("first_purchase").isNotNull &&
          col("first_view") < col("first_purchase"), lit(1)).otherwise(lit(0)))

  /** TPC-H Q6-style forecast-revenue delta: the canonical "every
    * predicate reaches the scan" query — three range filters and a
    * two-column projection over the fact table, one partial-aggregated
    * scalar out. Plan-audited: all three filters in `PushedFilters`,
    * `ReadSchema` is exactly the four referenced columns. */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(dec6))
        .cast("double").as("revenue"))

  /** Multi-level aggregate via ROLLUP (SURVEY §2 C11): per
    * (flag, status), per flag, and grand total in ONE pass — Spark
    * plans rollup as a single Expand(3 projections)+aggregate, so
    * the scan happens once, not three times (the naive UNION ALL of
    * three GROUP BYs). Subtotal keys are coalesced to 'ALL' and
    * tagged with `grouping_id` so the level is explicit rather than
    * NULL-encoded (NULL group values and NULL subtotals would be
    * indistinguishable). */
  def rollupSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec2)).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("sum_qty"))

  /** Wide per-user event matrix via PIVOT (SURVEY §2 C12). The value
    * list is EXPLICIT: an unlisted pivot makes Spark run a separate
    * collect-distinct job over the full table before it can even plan
    * — a hidden scan a 100 TB pipeline cannot afford (and
    * nondeterministic column order besides). With the list, this is
    * one Expand-free hash aggregate, same cost as the funnel. */
  def eventPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"))
      .groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .select(col("user_id"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("view"), lit(0L)).as("n_view"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("error"), lit(0L)).as("n_error"))

  /** Daily cohort retention (SURVEY §2 C15): visitors grouped by the
    * day of their FIRST event; for each (cohort_day, day_offset) cell,
    * how many of that cohort's visitors were active offset days later
    * — the activation/retention matrix behind every "live views for
    * analytics" dashboard. The visitor key is (user_id, `k` from the
    * `props` JSON attribute) — the parse stays in the Java∩RE2 regex
    * subset so any engine replays it; offsets are integer day
    * arithmetic on truncated dates, so the matrix is exact.
    *
    * Plan shape at 100 TB: one groupBy(visitor) aggregate for
    * first-seen (visitor-sized output, map-side combined), a key-hash
    * join back to the events on the visitor key (both sides hashed by
    * the same key, AQE splits skewed visitors), then a two-phase
    * distinct-count keyed (cohort, offset, visitor) whose first phase
    * dedups map-side. The matrix itself is days × offsets —
    * driver-trivial. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(
        (col("user_id") * 100 +
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")).as("visitor"),
        timestamp_micros(expr("ts div 1000")).cast("date").as("day"))
    val firstSeen = ev.groupBy(col("visitor"))
      .agg(min(col("day")).as("cohort_day"))
    ev.join(firstSeen, Seq("visitor"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("visitor")).as("active_users"))
  }

  /** Hourly gap fill + last-observation-carried-forward (SURVEY §2
    * C16): time series from event streams have holes (no events that
    * hour ⇒ no row), and every downstream consumer — charting,
    * anomaly detection, feature windows — needs the DENSE series.
    * Counts fill with 0; the running sum carries the last observed
    * value forward (NULL before a key's first observation — there is
    * nothing to carry).
    *
    * Shape: the dense (key × hour) grid is keys ⨯ a broadcast 1-row
    * min/max stats frame exploded through `sequence` — the
    * [[graft.operators.RangeJoin]] control-table pattern; the grid is
    * |keys|·|hours| rows, tiny relative to the events that produced
    * it. One left join back to the hourly aggregate (already map-side
    * combined), one per-key ordered window for the carry-forward.
    * Money stays decimal until the final cast. */
  def gapFillHourly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      expr("ts div 3600000000000").as("hr"), col("value"))
    val hourly = ev.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(dec2)).as("sv"))
    val stats = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(stats))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("filled_sum",
        last(col("sv"), ignoreNulls = true).over(w).cast("double"))
      .select(col("event_type"), col("hr"), col("n"), col("filled_sum"))
  }

  /** 3σ anomaly flags over the dense hourly series (SURVEY §2 C17) —
    * in EXACT INTEGER arithmetic. The float formulation
    * (|n−μ| > 3σ with μ, σ derived by division/sqrt) puts a
    * rounding-sensitive comparison at the flag boundary; multiplying
    * through by the hour count nh and squaring gives the equivalent
    * `(n·nh − Σn)² > 9·(nh·Σn² − (Σn)²)` — counts in, integers
    * throughout, not one float op, so the flags are hash-exact in any
    * engine. (Bound: holds while n·nh < 2³¹·√ of headroom — per-key
    * hourly counts at 100 TB stay far under it; overflow would need
    * n·nh ≥ 3·10⁹.)
    *
    * Shape: the dense series ([[gapFillHourly]] minus the carry
    * window) plus one per-key moment aggregate (keys-sized, map-side
    * combined, broadcast back). Gap-filling first matters: silent
    * empty hours are exactly the anomalies a sparse series cannot
    * flag. */
  def tsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val dense = gapFillHourly(s, dir).select(col("event_type"), col("hr"), col("n"))
    val stats = dense.groupBy(col("event_type")).agg(
      count(lit(1)).as("nh"), sum(col("n")).as("s1"),
      sum(col("n") * col("n")).as("s2"))
    val dev = col("n") * col("nh") - col("s1")
    dense.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hr"), col("n"),
        when(dev * dev > (col("nh") * col("s2") - col("s1") * col("s1")) * 9, lit(1))
          .otherwise(lit(0)).as("anomaly"))
  }

  /** Trending items per hour (SURVEY §2 C19): the top-k items by
    * event count in every hour — the "what's hot right now" panel of
    * the live-views use case. Two-phase: the (hour, item) count
    * combines map-side before its exchange, and the per-hour rank cap
    * runs as a partial WindowGroupLimit BEFORE the hour exchange
    * (each map partition ships ≤ k rows per hour) — at 100 TB the
    * second shuffle carries hours × k rows, not the counts. Total
    * (n desc, item) order makes the top-k set unique. */
  def trendingTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val ev = Tables.events(s, dir).select(
      expr("ts div 3600000000000").as("hr"),
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("item"))
    val counts = ev.groupBy(col("hr"), col("item")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("hr")).orderBy(col("n").desc, col("item"))
    counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Per-entity feature snapshot at a cutoff (SURVEY §2 C18) — the
    * feature-store materialization: trailing-window activity counts,
    * decimal-exact trailing spend, recency — all STRICTLY BEFORE the
    * cutoff, so a model trained on these features at label time T
    * cannot see the future (the leakage bug the temporal join and
    * this operator jointly eliminate).
    *
    * One scan (the cutoff predicate prunes at the parquet level),
    * conditional partial aggregates per window, one user-keyed
    * exchange. Adding a feature window adds a counter, never a pass.
    * Times compared as epoch-micros longs. */
  def featureSnapshot(s: SparkSession, dir: String,
                      cutoffUs: Long = 1706140800000000L): DataFrame = {
    // default cutoff 2024-01-25T00:00Z — inside the 30-day event span
    val day = 86400000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"),
        col("value"), col("event_type"))
      .filter(col("us") < cutoffUs)
    def inLast(days: Int): org.apache.spark.sql.Column =
      col("us") >= cutoffUs - days * day
    ev.groupBy(col("user_id")).agg(
      sum(when(inLast(7), 1L).otherwise(0L)).as("n_7d"),
      sum(when(inLast(1), 1L).otherwise(0L)).as("n_1d"),
      sum(when(inLast(7) && col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_buy_7d"),
      sum(when(inLast(7), col("value").cast(dec2)).otherwise(lit(null).cast(dec2)))
        .cast("double").as("spend_7d"),
      max(col("us")).as("last_us"))
  }
}
