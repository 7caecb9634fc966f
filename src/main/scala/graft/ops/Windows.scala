package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import H._

/** SURVEY.md §2.5 — window functions over `events` / `orders` / `customer`.
  *
  * Ordering keys always include a unique id tiebreak so every window is a
  * total order (hash-stable vs the DuckDB oracle). `events.ts` is surfaced as
  * epoch µs (`unix_micros` / `epoch_us`) per SURVEY §5.4.1.
  * Cumulative floating sums go through DECIMAL so the running values are
  * exact in both engines (DuckDB computes window sums via segment trees —
  * a different double-addition association order than Spark's running sum).
  */
object Windows {

  /** EXECUTABLE calendar-grain contract (r16, the r15 verdict's ask #5 —
    * the wedgeProbe discipline applied to this family's unpartitioned
    * windows): every global day/week-frame window below is safe ONLY
    * because its input is CALENDAR grain — bounded by the date span, not
    * the corpus — and until r16 that was a prose caveat. This guard makes
    * it a contract: the frame gains an IN-PLAN assertion (a broadcast
    * 1-row span aggregate + `assert_true` filter — no separate eager job)
    * that its ordering-key span stays under `budget` units, throwing with
    * the number instead of silently funneling a leaked fact-grain frame
    * through one reducer. The input is [[graft.api.Caches]]-cached so the
    * corpus-collapsing aggregate still runs once; row values and
    * multiplicities are untouched (oracle hashes unchanged).
    *
    * `span` is an aggregate expression over the frame (e.g.
    * `datediff(max(day), min(day)) + 1`); the default budget — 200k units
    * ≈ 550 years of days — is far above any real calendar and far below
    * any fact table.
    */
  private[graft] def calendarBounded(daily: org.apache.spark.sql.DataFrame,
      span: org.apache.spark.sql.Column, who: String,
      budget: Long = 200000L): org.apache.spark.sql.DataFrame = {
    val d = graft.api.Caches.cache(daily)
    val s = d.agg(coalesce(span.cast("long"), lit(0L)).as("_cal_span"))
    d.crossJoin(broadcast(s))
      .filter(assert_true(col("_cal_span") <= lit(budget),
        concat(lit(s"$who: the unpartitioned-window input spans "),
          col("_cal_span"),
          lit(s" calendar units, over the $budget-unit bound — this frame " +
            "is not calendar-grain (fact rows leaked into a global window)")))
        .isNull)
      .drop("_cal_span")
  }

  /** The day-grain average-price-cents series over `orders`, shared by the
    * bollinger/drawdown/rsi/macd family — ONE definition of the series and
    * of its [[calendarBounded]] guard (pre-r16 each key repeated the
    * aggregate inline, unguarded).
    */
  private def ordersDailyAvgC(s: SparkSession, d: String, who: String)
      : org.apache.spark.sql.DataFrame =
    calendarBounded(
      T.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((sum(cents(col("o_totalprice"))).cast("double")
          / count(lit(1))).as("avc"))
        .select(col("day"), floor(col("avc") + lit(0.5)).cast("long").as("x")),
      datediff(max(col("day")), min(col("day"))) + 1, who)

  /** Top-3 orders per customer — thin wrapper over
    * [[graft.api.Fts.topKPerGroup]] (the "top-k links" FTS metric shape).
    */
  private val winRankTopk = Q(
    "win_rank_topk",
    (s, d) => graft.api.Fts.topKPerGroup(T.orders(s, d), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rk", "drk")
      .orderBy("o_custkey", "rn"),
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  /** EXACT ntile(4) semantics with NO global window (r16, the r15
    * verdict's last-single-reducer ask — through r15 this key ran the real
    * `ntile(4).over(Window.orderBy(...))`, a one-reducer total order kept
    * only because customer is a dimension table). The rewrite reproduces
    * ntile's POSITIONAL bucketing bit-for-bit from distributed pieces:
    *
    *  1. each row's global rank in (c_acctbal ASC, c_custkey ASC) order =
    *     (# rows with a strictly smaller value, from
    *     [[graft.api.Fts.cumulativeWeights]]' two-stage bucketed prefix
    *     sum — exclusive `cw − w`) + row_number within its tied value
    *     (window partitioned on the high-cardinality VALUE — reducer
    *     input is one tie run, never the table);
    *  2. ntile's bucket is then pure integer arithmetic on (rank, n):
    *     with q = n div 4 and r = n mod 4 the first r quartiles take
    *     q+1 rows — `rank ≤ r(q+1) ? (rank−1) div (q+1) + 1 :
    *     r + (rank−1−r(q+1)) div q + 1` (the SQL-standard assignment both
    *     engines implement), so the oracle stays the REAL `ntile(4)` and
    *     the hash is unchanged. The custkey tiebreak makes row position
    *     deterministic, which is what makes rank regeneration exact.
    *
    * [[winNtileScalable]] remains the VALUE-CUTOFF variant (quartiles as
    * data thresholds — different semantics at tie edges, documented
    * there); this key now carries the positional semantics at the same
    * scale shape. Unlike `ntile`, rows with a NULL value are EXCLUDED
    * up front (`isNotNull` before [[graft.api.Fts.cumulativeWeights]] —
    * r16 ADVICE: without the filter the NULL group still counted into tw
    * (= n) and its weight landed in bucket 0's cumulative, silently
    * shifting every surviving row's quartile rather than just dropping
    * rows). The fixture (and any sane balance column) has none, so the
    * oracle hash is untouched; a NULL-bearing input now gets consistent
    * drop-the-nulls semantics instead of a silent shift.
    */
  private val winNtile = Q(
    "win_ntile",
    (s, d) => {
      // cached: two consumers (cumulativeWeights' pre-aggregate and the
      // value join) — uncached, the customer scan runs twice (r16 review)
      val cust = graft.api.Caches.cache(
        T.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
          .filter(col("c_acctbal").isNotNull))
      val cum = graft.api.Fts.cumulativeWeights(
        cust.withColumn("g", lit(1)).withColumn("one", lit(1L)),
        "g", "c_acctbal", "one")
      // cw/tw are integer-valued doubles (unit weights) — exact below 2^53
      val offs = cum.select(col("c_acctbal"),
        (col("cw") - col("w")).cast("long").as("below"),
        col("tw").cast("long").as("n"))
      val wv = Window.partitionBy("c_acctbal").orderBy("c_custkey")
      cust.join(offs, "c_acctbal")
        .withColumn("rnk", col("below") + row_number().over(wv))
        .withColumn("q", expr("n div 4"))
        .withColumn("r", expr("n % 4"))
        // integer div throughout (no float quotients to round); the else
        // branch is unreachable when q = 0 (rank > r(q+1) = n impossible)
        // but greatest(q, 1) keeps its divisor nonzero for any evaluator
        .withColumn("quartile",
          when(col("rnk") <= col("r") * (col("q") + 1),
            expr("(rnk - 1) div (q + 1) + 1"))
            .otherwise(expr("r + (rnk - 1 - r * (q + 1)) div greatest(q, 1) + 1"))
            .cast("int"))
        .select(col("c_custkey"), col("c_acctbal"), col("quartile"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_acctbal,
ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
FROM customer ORDER BY c_custkey"""))

  /** The VALUE-CUTOFF sibling of [[winNtile]] (r16: both keys are now
    * global-window-free — this one assigns quartiles as data thresholds,
    * winNtile keeps ntile's positional semantics): exact RANK-THRESHOLD
    * cutoffs broadcast back and bucketed per-row — no global window, no
    * single-reducer total order, so the shape survives a table 10⁶× this
    * size. Cutoff k is the smallest value whose cumulative row count cw
    * satisfies cw·4 ≥ k·n (percentile_disc semantics spelled out in pure
    * integer arithmetic — both engines agree exactly, unlike interpolated
    * percentiles, so this is fully oracled; r1–r4 kept it declared-only on
    * an interpolated-cutoff formulation). The cumulative count is
    * [[graft.api.Fts.cumulativeWeights]] — the same two-stage bucketed
    * prefix sum agg_weighted_percentile rides (unit weights, one constant
    * key) — so the subtle machinery lives once. The trade named in
    * [[winNtile]]'s caveat stays: rows tied exactly AT a cutoff land in the
    * lower bucket (deterministic; populations can differ from exact ntile
    * by tie counts and the ceil-rank boundary, bounded in WindowsSpec).
    */
  private val winNtileScalable = Q(
    "win_ntile_scalable",
    (s, d) => {
      val cust = T.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      val cum = graft.api.Fts.cumulativeWeights(
        cust.withColumn("g", lit(1)).withColumn("one", lit(1L)),
        "g", "c_acctbal", "one")
      val cuts = cum.agg(
        min(when(col("cw") * 4 >= col("tw"), col("c_acctbal"))).as("v1"),
        min(when(col("cw") * 4 >= col("tw") * 2, col("c_acctbal"))).as("v2"),
        min(when(col("cw") * 4 >= col("tw") * 3, col("c_acctbal"))).as("v3"))
      cust.crossJoin(broadcast(cuts))
        .select(col("c_custkey"), col("c_acctbal"),
          (lit(1) +
            when(col("c_acctbal") > col("v1"), 1).otherwise(0) +
            when(col("c_acctbal") > col("v2"), 1).otherwise(0) +
            when(col("c_acctbal") > col("v3"), 1).otherwise(0))
            .as("quartile"))
        .orderBy("c_custkey")
    },
    Some("""WITH t AS (SELECT count(*) AS n FROM customer),
pre AS (SELECT c_acctbal AS v, count(*) AS w FROM customer GROUP BY 1),
cum AS (SELECT v, sum(w) OVER (ORDER BY v) AS cw FROM pre),
cuts AS (SELECT
    min(CASE WHEN cw * 4 >= n THEN v END) AS v1,
    min(CASE WHEN cw * 4 >= n * 2 THEN v END) AS v2,
    min(CASE WHEN cw * 4 >= n * 3 THEN v END) AS v3
  FROM cum, t)
SELECT c_custkey, c_acctbal,
1 + CAST(c_acctbal > v1 AS INT) + CAST(c_acctbal > v2 AS INT)
  + CAST(c_acctbal > v3 AS INT) AS quartile
FROM customer, cuts ORDER BY c_custkey"""))

  /** Per-user event-type transition matrix — the state-machine report of
    * transfer monitoring (which states follow which, e.g. click→error
    * density): one lag window per user's time-ordered events, then a global
    * (prev, curr) count with each transition's share of its source state.
    * The window partitions on user_id (high cardinality); the matrix
    * aggregate output is |states|² rows.
    */
  private val winTransitionMatrix = Q(
    "win_transition_matrix",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("from_total",
          sum(col("n")).over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("event_type"), col("n"),
          (col("n").cast("double") / col("from_total")).as("p"))
        .orderBy("prev_type", "event_type")
    },
    Some("""SELECT prev_type, event_type, count(*) AS n,
CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY prev_type) AS p
FROM (
  SELECT user_id, event_type,
    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      AS prev_type
  FROM events)
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type ORDER BY prev_type, event_type"""))

  /** Batch sessionization — the gap-threshold session assignment every
    * event pipeline needs (the batch twin of `stream_session`): a >30-min
    * silence opens a new session. One lag window flags boundaries, a running
    * sum over the SAME window numbers the sessions (no second shuffle — both
    * windows share the (user_id) partitioning), then a per-session rollup.
    * Partitions on high-cardinality user_id, so the plan is one shuffle +
    * one partial+final aggregate regardless of corpus size.
    */
  private val winSessionize = Q(
    "win_sessionize",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"),
          col("value"))
        .withColumn("gap", col("em") - lag(col("em"), 1).over(w))
        .withColumn("boundary",
          when(col("gap").isNull || col("gap") > lit(1800000000L), 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("boundary")).over(w))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"), min(col("em")).as("start_em"),
          max(col("em")).as("end_em"), dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "sess")
    },
    Some(s"""WITH b AS (
  SELECT user_id, event_id, em, value,
    CASE WHEN em - lag(em, 1) OVER w IS NULL
           OR em - lag(em, 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS boundary
  FROM (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id)),
sx AS (SELECT user_id, em, value,
  CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY em, event_id) AS BIGINT) AS sess
  FROM b)
SELECT user_id, sess, count(*) AS n_events, min(em) AS start_em,
max(em) AS end_em, ${H.dsumSql("value")} AS sum_value
FROM sx GROUP BY user_id, sess ORDER BY user_id, sess"""))

  /** SCD2-style interval build — collapse each user's run of consecutive
    * identical states into one validity interval (`valid_from`,
    * `valid_to` = next interval's start, NULL while current): the classic
    * gaps-and-islands rewrite (island id = running sum of change flags), the
    * shape of every temporal-dimension / state-history table. Both windows
    * partition on user_id; the post-rollup lead() window reuses the same key,
    * and island counts are ≤ event counts, so nothing here outgrows the
    * event shuffle itself.
    */
  private val winScd2Intervals = Q(
    "win_scd2_intervals",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
      val prev = lag(col("event_type"), 1).over(w)
      val islands = T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"),
          col("event_type"))
        .withColumn("chg",
          when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("island", sum(col("chg")).over(w))
        .groupBy("user_id", "island", "event_type")
        .agg(min(col("em")).as("valid_from"), max(col("em")).as("last_seen"),
          count(lit(1)).as("n_collapsed"))
      val w2 = Window.partitionBy("user_id").orderBy("island")
      islands
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .select("user_id", "event_type", "valid_from", "valid_to",
          "last_seen", "n_collapsed")
        .orderBy("user_id", "valid_from")
    },
    Some("""WITH f AS (
  SELECT user_id, event_id, em, event_type,
    CASE WHEN lag(event_type, 1) OVER w IS NULL
           OR lag(event_type, 1) OVER w != event_type THEN 1 ELSE 0 END AS chg
  FROM (SELECT user_id, event_id, epoch_us(ts) AS em, event_type FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id)),
i AS (SELECT user_id, event_type,
        CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY em, event_id) AS BIGINT) AS island,
        em FROM f),
r AS (SELECT user_id, island, event_type, min(em) AS valid_from,
        max(em) AS last_seen, count(*) AS n_collapsed
      FROM i GROUP BY user_id, island, event_type)
SELECT user_id, event_type, valid_from,
lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
last_seen, n_collapsed
FROM r ORDER BY user_id, valid_from"""))

  /** Inter-event gap per user — the sessionization input. */
  private val winLagLead = Q(
    "win_lag_lead",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"))
        .withColumn("gap_us", coalesce(col("em") - lag(col("em"), 1).over(w), lit(-1L)))
        .withColumn("next_id", coalesce(lead(col("event_id"), 1).over(w), lit(-1L)))
        .orderBy("user_id", "em", "event_id")
    },
    Some("""SELECT user_id, event_id, em,
coalesce(em - lag(em, 1) OVER w, -1) AS gap_us,
coalesce(lead(event_id, 1) OVER w, -1) AS next_id
FROM (SELECT user_id, event_id, epoch_us(ts) AS em FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id)
ORDER BY user_id, em, event_id"""))

  private val winRunningSum = Q(
    "win_running_sum",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"), col("value"))
        .withColumn("running_value",
          sum(col("value").cast(D184)).over(w).cast("double"))
        .select("user_id", "event_id", "em", "running_value")
        .orderBy("user_id", "em", "event_id")
    },
    Some("""SELECT user_id, event_id, em,
CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_value
FROM (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY user_id, em, event_id"""))

  private val winSlidingAvg = Q(
    "win_sliding_avg",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
        .rowsBetween(-3, 0)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"), col("value"))
        .withColumn("avg4",
          sum(col("value").cast(D184)).over(w).cast("double") / count(lit(1)).over(w))
        .withColumn("n4", count(lit(1)).over(w))
        .select("user_id", "event_id", "em", "avg4", "n4")
        .orderBy("user_id", "em", "event_id")
    },
    Some("""SELECT user_id, event_id, em,
CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) / count(*) OVER w AS avg4,
count(*) OVER w AS n4
FROM (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY user_id, em, event_id"""))

  /** Time-range frame: per-user sum of `value` over the trailing hour —
    * the FTS "throughput in window" metric.
    */
  private val winRangeFrame = Q(
    "win_range_frame",
    (s, d) => {
      val hourUs = 3600000000L
      val w = Window.partitionBy("user_id").orderBy("em")
        .rangeBetween(-hourUs, 0)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"), col("value"))
        .withColumn("hour_sum",
          sum(col("value").cast(D184)).over(w).cast("double"))
        .withColumn("hour_n", count(lit(1)).over(w))
        .select("user_id", "event_id", "em", "hour_sum", "hour_n")
        .orderBy("user_id", "em", "event_id")
    },
    Some("""SELECT user_id, event_id, em,
CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS hour_sum,
count(*) OVER w AS hour_n
FROM (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY em
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY user_id, em, event_id"""))

  /** percent_rank/cume_dist per event_type — the LAST fact-grain window
    * partitioned on a LOW-CARDINALITY key in the repo (5 types funneled
    * every fact row through 5 reducers — the shape win_ntile/agg_hhi_gini/
    * the agg_trimmed_mean trio were rewritten to kill, guide §2.5).
    *
    * Scale shape (r18): NO event_type-spine window. The corpus collapses
    * to (type, DISTINCT value) grain via the shared two-stage bucketed
    * prefix sum ([[graft.api.Fts.cumulativeCounts2]] — the only windows
    * partition on (type, bucket)); the per-row rank rebuilds as
    * `cum − c + k` with `k` the row_number INSIDE one value's tie run
    * (window partitioned by (type, value) — reducer input is one tie run,
    * the win_pareto_abc shape); first/last_value are the per-type min/max
    * (the frame is ordered by value first, so the unbounded frame's
    * first/last ARE the extremes; a null value, sorting first, makes
    * first_value null), broadcast back from a 5-row aggregate.
    *
    * Float discipline: event_id is unique (fixture contract the original
    * window's determinism already relied on), so rank == row_number over
    * (value, event_id) and percent_rank/cume_dist reduce to one double
    * division each of exact longs — `(rk−1)/(n−1)` and `rk/n`, the same
    * spelled-order IEEE ops Spark's PercentRank/CumeDist expressions
    * evaluate — identical bits, oracle SQL and hash unchanged.
    */
  private val winFirstLastPctrank = Q(
    "win_first_last_pctrank",
    (s, d) => firstLastPctrank(T.events(s, d)
        .select(col("event_type"), col("event_id"), col("value")))
      .orderBy("event_type", "value", "event_id"),
    Some("""SELECT event_type, event_id, value,
first_value(value) OVER wf AS first_value,
last_value(value) OVER wf AS last_value,
percent_rank() OVER wo AS pct_rank,
cume_dist() OVER wo AS cume
FROM events
WINDOW wo AS (PARTITION BY event_type ORDER BY value, event_id),
       wf AS (PARTITION BY event_type ORDER BY value, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY event_type, value, event_id"""))

  /** [[winFirstLastPctrank]]'s plan over `e(event_type, event_id, value)`:
    * the rows of Spark's window over `ORDER BY value, event_id`. A null
    * value is a row like any other: it sorts first, joins its prefix-sum
    * row null-safely and makes its type's `first_value` null (DuckDB sorts
    * nulls last; the fixtures hold no null `value`). A null `event_type` is
    * one more partition: both joins on it are null-safe.
    */
  private[graft] def firstLastPctrank(e: DataFrame): DataFrame = {
    // per-type stats from one map-side fact aggregate, not off `cc`: a
    // second consumer would force cc into a cache (measured ~2x slower)
    val stats = e.groupBy("event_type").agg(count(lit(1)).as("n"),
      when(count(col("value")) === count(lit(1)), min(col("value")))
        .as("first_value"),
      max(col("value")).as("last_value"))
    val cc = graft.api.Fts.cumulativeCounts2(
        e, "event_type", "value", lit(1L), lit(0L))
      .select(col("event_type").as("cc_type"), col("value").as("cc_value"),
        col("c1"), col("cum1"))
    val wTie = Window.partitionBy("event_type", "value").orderBy("event_id")
    e.join(cc, col("event_type") <=> col("cc_type") &&
        col("value") <=> col("cc_value"))
      .withColumn("rk", col("cum1") - col("c1") + row_number().over(wTie))
      .join(broadcast(stats.withColumnRenamed("event_type", "st_type")),
        col("event_type") <=> col("st_type"))
      .select(col("event_type"), col("event_id"), col("value"),
        col("first_value"), col("last_value"),
        when(col("n") === 1, lit(0.0))
          .otherwise((col("rk") - 1).cast("double")
            / (col("n") - 1).cast("double")).as("pct_rank"),
        (col("rk").cast("double") / col("n").cast("double")).as("cume"))
  }

  /** Ordered conversion funnel view → click → purchase per user: a stage
    * counts only when its FIRST qualifying event happens at-or-after the
    * previous stage's first occurrence (the product-analytics funnel
    * semantics — a purchase before any view is not a conversion). Emits one
    * corpus row: per-stage user counts, conversion ratios, and the mean
    * view→purchase latency of completers.
    *
    * Scale shape: each stage is one filtered user-grain hash aggregate; the
    * stage chaining joins are user-keyed and USER-GRAIN on both sides (the
    * event stream collapses before any join, so nothing corpus-sized ever
    * joins), and the finale is a single-row global aggregate. No windows —
    * the "ordered" semantics ride min-after-threshold, not sequencing, so
    * no per-user sort exists anywhere.
    *
    * Float discipline: counts are exact longs; ratios and the mean latency
    * are one exact-integer IEEE division each — emitted RAW (core.scala H
    * rules).
    */
  private val winFunnel = Q(
    "win_funnel",
    (s, d) => {
      val e = T.events(s, d)
        .select(col("user_id"), col("event_type"), em(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") >= col("t1"))
        .groupBy("user_id").agg(min(col("us")).as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") >= col("t2"))
        .groupBy("user_id").agg(min(col("us")).as("t3"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .agg(count(col("t1")).as("n_view"), count(col("t2")).as("n_click"),
          count(col("t3")).as("n_purchase"),
          (count(col("t2")).cast("double") / count(col("t1")))
            .as("conv_click"),
          (count(col("t3")).cast("double") / count(col("t1")))
            .as("conv_purchase"),
          (sum(col("t3") - col("t1")).cast("double") / count(col("t3")))
            .as("avg_convert_us"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND us >= t1 GROUP BY 1),
p AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND us >= t2 GROUP BY 1),
f AS (SELECT v.user_id, t1, t2, t3
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
SELECT count(t1) AS n_view, count(t2) AS n_click, count(t3) AS n_purchase,
CAST(count(t2) AS DOUBLE) / count(t1) AS conv_click,
CAST(count(t3) AS DOUBLE) / count(t1) AS conv_purchase,
CAST(sum(t3 - t1) AS DOUBLE) / count(t3) AS avg_convert_us
FROM f"""))

  /** Sweep-line concurrent-interval counting — "how many order→ship
    * intervals are open on each calendar day" (in-flight inventory / open
    * backlog, the interval-aggregation every temporal pipeline needs).
    * Each lineitem contributes the activity interval
    * [least(o_orderdate, l_shipdate), greatest(...)] (the synthetic dates
    * are not causally ordered, so least/greatest keeps every interval
    * valid); the sweep turns each interval into +1/−1 boundary deltas,
    * aggregates to per-day nets, and prefix-sums the nets — O(n) total
    * work where the naive per-day explode is O(n · interval_length).
    *
    * Scale shape: NO global single-reducer window — the prefix sum is
    * [[graft.api.Fts.cumulativeWeights]]'s two-stage bucketed form
    * (per-bucket partials + broadcast offsets; reducer input is
    * days/buckets). Deltas are exact longs, so the two-stage association
    * is bit-identical to the oracle's straight window sum. Close counts on
    * the END day itself (open_cnt = intervals with lo ≤ d < hi, plus
    * same-day intervals contributing 0) — documented, deterministic.
    */
  private val epoch = lit("1970-01-01").cast("date")

  /** The shared sweep core: order→ship activity intervals → ±1 boundary
    * deltas → per-day (dn = epoch days, net, open_cnt) via the two-stage
    * bucketed prefix sum. `open_cnt(d)` counts exactly the intervals with
    * `lo ≤ d < hi` (closes subtract on their end day). Reused by
    * [[winIntervalSweep]] (the day series itself) and
    * [[joinPointInInterval]] (the coverage-count join rewrite).
    */
  private def sweepCum(s: SparkSession, d: String) = {
    val iv = T.orders(s, d)
      .join(T.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(to_date(col("o_orderdate")).as("a"),
        to_date(col("l_shipdate")).as("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
    val dl = iv.select(datediff(col("lo"), epoch).as("dn"),
        lit(1L).as("delta"))
      .union(iv.select(datediff(col("hi"), epoch), lit(-1L)))
      .withColumn("g", lit(1))
    graft.api.Fts.cumulativeWeights(dl, "g", "dn", "delta")
      .select(col("dn"), col("w").cast("bigint").as("net"),
        col("cw").cast("bigint").as("open_cnt"))
  }

  private val winIntervalSweep = Q(
    "win_interval_sweep",
    (s, d) => sweepCum(s, d)
      .select(date_add(epoch, col("dn")).as("dt"), col("net"),
        col("open_cnt"))
      .orderBy("dt"),
    Some("""WITH iv AS (SELECT
    least(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lo,
    greatest(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS hi
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
dl AS (SELECT lo AS dt, 1 AS delta FROM iv
       UNION ALL SELECT hi, -1 FROM iv),
n AS (SELECT dt, CAST(sum(delta) AS BIGINT) AS net FROM dl GROUP BY 1)
SELECT dt, net, CAST(sum(net) OVER (ORDER BY dt) AS BIGINT) AS open_cnt
FROM n ORDER BY dt"""))

  /** Rolling z-score anomaly detection — per user, each event's `value`
    * scored against the trailing 20-event mean/stddev; emits the events
    * whose |z| ≥ 2.5 (the metric-stream outlier monitor). Windows need ≥ 8
    * events and sd ≥ 1e-4: the sd floor is load-bearing for cross-engine
    * determinism — a constant-value window's sample stddev is EXACTLY 0 in
    * one engine but can be ~1e-13 co-moment noise in the other, and `> 0`
    * would tie-split the row set; 1e-4 cleanly separates noise from the
    * smallest true sd of 2-decimal values (~2e-3). z is path-divergent
    * (both engines' sliding aggregates associate differently) → [[H.r4z]]
    * (z crosses zero), with the established rounded-threshold caveat on
    * the 2.5 boundary (Text.scala tie-boundary note).
    *
    * Scale shape: one window pass partitioned on high-cardinality user_id,
    * then a per-row filter — no second shuffle; the final orderBy is the
    * presentation sort every oracled key carries.
    */
  private val winZscoreAnomaly = Q(
    "win_zscore_anomaly",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
        .rowsBetween(-19, 0)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"),
          col("value"))
        .withColumn("m", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("n") >= 8 && col("sd") >= 0.0001)
        .withColumn("z", r4z((col("value") - col("m")) / col("sd")))
        .filter(abs(col("z")) >= 2.5)
        .select("user_id", "event_id", "em", "value", "z")
        .orderBy("user_id", "em", "event_id")
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events),
w AS (SELECT user_id, event_id, em, value,
    avg(value) OVER win AS m, stddev_samp(value) OVER win AS sd,
    count(*) OVER win AS n
  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY em, event_id
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
z AS (SELECT user_id, event_id, em, value,
    ${H.r4zSql("(value - m) / sd")} AS z
  FROM w WHERE n >= 8 AND sd >= 0.0001)
SELECT user_id, event_id, em, value, z FROM z
WHERE abs(z) >= 2.5 ORDER BY user_id, em, event_id"""))

  /** Point-in-interval coverage join — for every order, how many
    * order→ship activity intervals (all orders', its own included) are
    * open on its order date, rolled up per priority class. The DECLARED
    * semantics are an interval×point θ-join (`lo ≤ d < hi`); the plan is
    * its 100 TB rewrite: because the predicate only needs the coverage
    * COUNT, the [[sweepCum]] day series (day-grain, calendar-bounded)
    * broadcast-joins to the points by EXACT day — the 34-second naive
    * inequality join at sf0.01 becomes a 0.03-second equi-join, measured
    * in DuckDB itself. Every order date is an interval endpoint of its own
    * lineitems (lo = least(o_orderdate, ·) ≤ o_orderdate), so the inner
    * day join drops nothing.
    *
    * The oracle uses the same sweep formulation (verified bit-identical to
    * the naive θ-join at sf0.01 before committing; the naive form is too
    * slow for the driver's gate) — the ntile_scalable precedent: the
    * oracle re-verifies the arithmetic, the brute-force equivalence is
    * pinned once by measurement.
    */
  private val joinPointInInterval = Q(
    "join_point_in_interval",
    (s, d) => {
      val cum = sweepCum(s, d).select(col("dn"), col("open_cnt"))
      T.orders(s, d)
        .select(col("o_orderpriority"),
          datediff(to_date(col("o_orderdate")), epoch).as("dn"))
        .join(broadcast(cum), "dn")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("open_cnt")).as("total_open"),
          (sum(col("open_cnt")).cast("double") / count(lit(1)))
            .as("avg_open"),
          max(col("open_cnt")).as("max_open"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH iv AS (SELECT
    least(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lo,
    greatest(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS hi
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
dl AS (SELECT lo AS dt, 1 AS delta FROM iv UNION ALL SELECT hi, -1 FROM iv),
n AS (SELECT dt, CAST(sum(delta) AS BIGINT) AS net FROM dl GROUP BY 1),
c AS (SELECT dt, CAST(sum(net) OVER (ORDER BY dt) AS BIGINT) AS open_cnt FROM n),
pts AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d FROM orders),
j AS (SELECT o_orderpriority, open_cnt FROM pts JOIN c ON pts.d = c.dt)
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(sum(open_cnt) AS BIGINT) AS total_open,
  CAST(sum(open_cnt) AS DOUBLE) / count(*) AS avg_open,
  max(open_cnt) AS max_open
FROM j GROUP BY 1 ORDER BY 1"""))

  /** Rolling EXACT median — per user, the trailing-20-event median of
    * `value` (the robust location estimate a latency/throughput monitor
    * uses where [[winSlidingAvg]]'s mean is outlier-dragged). Spark's
    * `percentile(value, 0.5)` and DuckDB's `quantile_cont(value, 0.5)`
    * compute the same canonical interpolation (h = (n−1)·p; lower +
    * (upper−lower)·frac) but possibly in different fp op orders, so the
    * median is path-divergent in principle → [[H.r4]] (value ≥ 0 here —
    * TESTDATA's value column is a non-negative 2-decimal double — so no
    * signed-zero exposure; medians land on the 0.005 grid, 5e-5 from any
    * round-4 boundary, so 1-ulp drift cannot flip the rounding).
    *
    * Scale shape: ONE window pass partitioned on high-cardinality
    * user_id; the exact-percentile window aggregate buffers only the
    * 20-row frame per position (bounded by the frame, not the partition).
    */
  private val winRollingMedian = Q(
    "win_rolling_median",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
        .rowsBetween(-19, 0)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"),
          col("value"))
        .withColumn("med", r4(expr("percentile(value, 0.5)").over(w)))
        .withColumn("n", count(lit(1)).over(w))
        .orderBy("user_id", "em", "event_id")
    },
    Some("""SELECT user_id, event_id, em, value,
round(quantile_cont(value, 0.5) OVER w, 4) AS med,
count(*) OVER w AS n
FROM (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY user_id, em, event_id"""))

  /** Interval×interval OVERLAP join — for every order's 7-day first-ship
    * window `[lo, lo+6]`, how many URGENT orders' windows overlap it
    * (`b.lo ≤ a.hi ∧ b.hi ≥ a.lo` — its own window included when the
    * order is urgent), rolled up per priority class. The companion of
    * [[joinPointInInterval]]: that key rewrites interval×POINT coverage;
    * this one rewrites interval×INTERVAL overlap, the other θ-join a
    * temporal pipeline hits (co-active sessions, concurrent transfers).
    *
    * The 100 TB rewrite: `overlaps(a) = |{b : b.lo ≤ a.hi}| −
    * |{b : b.hi < a.lo}|` (the subtracted set is a subset of the first:
    * b.hi < a.lo ⇒ b.lo ≤ b.hi < a.lo ≤ a.hi), so two CALENDAR-GRAIN
    * cumulative counters — starts-at-or-before(d), ends-before(d) — turn
    * the θ-join into two day-keyed broadcast equi-joins. The day series is
    * calendar-bounded (~2.5k rows here, ~40k for a century), NOT
    * data-bounded, so its one global cumulative window is a constant-size
    * reduction at any corpus scale — same argument as [[sweepCum]], which
    * buckets only because its day count tracks the data's date span.
    * WindowsSpec pins the brute-force θ-join equivalence at sf0.001.
    *
    * Counts are exact longs; `avg_overlap` is one exact-integer IEEE
    * division — RAW.
    */
  private val joinIntervalOverlap = Q(
    "join_interval_overlap",
    (s, d) => {
      val iv = T.lineitem(s, d)
        .groupBy(col("l_orderkey").as("ok"))
        .agg(min(datediff(to_date(col("l_shipdate")), epoch)).as("lo"))
        .withColumn("hi", col("lo") + 6)
        .join(T.orders(s, d).select(col("o_orderkey").as("ok"),
          col("o_orderpriority")), "ok")
      val b = iv.filter(col("o_orderpriority") === "1-URGENT")
      val starts = b.groupBy(col("lo").as("dn")).agg(count(lit(1)).as("ns"))
      val ends = b.groupBy(col("hi").as("dn")).agg(count(lit(1)).as("ne"))
      // in-plan span assert on the 1-row bounds frame (the calendarBounded
      // contract, free here — the bounds aggregate already exists)
      val days = iv.agg(min(col("lo")).as("dmin"), max(col("hi")).as("dmax"))
        .filter(assert_true(
          coalesce(col("dmax") - col("dmin"), lit(0)).cast("long") <= lit(200000L),
          lit("join_interval_overlap: the day spine would span more than " +
            "200000 days — the interval domain is not calendar-bounded"))
          .isNull)
        .select(explode(sequence(col("dmin"), col("dmax"))).as("dn"))
        .join(starts, Seq("dn"), "left").join(ends, Seq("dn"), "left")
        .select(col("dn"), coalesce(col("ns"), lit(0L)).as("ns"),
          coalesce(col("ne"), lit(0L)).as("ne"))
      // calendar-grain frame: the global window is bounded by the day span
      val wd = Window.orderBy("dn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = days
        .withColumn("s_le", sum(col("ns")).over(wd))
        .withColumn("e_le", sum(col("ne")).over(wd))
        .withColumn("e_lt", col("e_le") - col("ne"))
        .select(col("dn"), col("s_le"), col("e_lt"))
      iv.join(broadcast(cum.select(col("dn").as("hi"), col("s_le"))), "hi")
        .join(broadcast(cum.select(col("dn").as("lo"), col("e_lt"))), "lo")
        .withColumn("n_ov", col("s_le") - col("e_lt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("n_ov")).as("total_overlap"),
          (sum(col("n_ov")).cast("double") / count(lit(1))).as("avg_overlap"),
          max(col("n_ov")).as("max_overlap"),
          min(col("n_ov")).as("min_overlap"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH iv AS (
  SELECT ok, lo, lo + 6 AS hi, o_orderpriority FROM (
    SELECT l_orderkey AS ok,
      min(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS lo
    FROM lineitem GROUP BY 1)
  JOIN orders ON ok = o_orderkey),
b AS (SELECT lo, hi FROM iv WHERE o_orderpriority = '1-URGENT'),
days AS (SELECT unnest(generate_series(
    (SELECT min(lo) FROM iv), (SELECT max(hi) FROM iv))) AS dn),
sgrp AS (SELECT lo AS dn, count(*) AS ns FROM b GROUP BY 1),
egrp AS (SELECT hi AS dn, count(*) AS ne FROM b GROUP BY 1),
g AS (SELECT dn, coalesce(ns, 0) AS ns, coalesce(ne, 0) AS ne
  FROM days LEFT JOIN sgrp USING (dn) LEFT JOIN egrp USING (dn)),
cum AS (SELECT dn,
    CAST(sum(ns) OVER w AS BIGINT) AS s_le,
    CAST(sum(ne) OVER w - ne AS BIGINT) AS e_lt
  FROM g WINDOW w AS (ORDER BY dn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
j AS (SELECT iv.o_orderpriority, ch.s_le - cl.e_lt AS n_ov
  FROM iv JOIN cum ch ON iv.hi = ch.dn JOIN cum cl ON iv.lo = cl.dn)
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(sum(n_ov) AS BIGINT) AS total_overlap,
  CAST(sum(n_ov) AS DOUBLE) / count(*) AS avg_overlap,
  max(n_ov) AS max_overlap, min(n_ov) AS min_overlap
FROM j GROUP BY 1 ORDER BY 1"""))

  /** Trailing EWMA (decay 1/2, 20-term adjusted form) — per user, the
    * exponentially weighted mean of `value`, the standard
    * recency-biased smoother a monitoring pipeline runs next to
    * [[winSlidingAvg]]'s uniform mean and [[winRollingMedian]]'s robust
    * one. `ewma_t = Σ_k v_{t−k}·2^{−k} / Σ_k 2^{−k}` over the trailing 20
    * rows (pandas `ewm(alpha=.5, adjust=True)` semantics, truncated at 20
    * terms where the weight is already 2^{−19} ≈ 1.9e−6).
    *
    * Emitted RAW, no rounding — engineered for bit-identity: the decay is
    * a POWER OF TWO, so each product `v·2^{−k}` is an exact IEEE exponent
    * shift of whatever bits `v` has; both engines evaluate the SAME
    * 20-term addition chain written in the same left-to-right order (the
    * Scala `reduce` below and SQL's left-associative `+` parse
    * identically), and the final division is one shared IEEE op. Weight
    * literals are emitted as exact decimal strings (2^{−k} is
    * binary-exact, so its decimal expansion re-parses to the same double
    * in either engine).
    *
    * Scale shape: ONE window pass partitioned on high-cardinality
    * user_id; 20 lag expressions share the window spec (deduplicated by
    * the window planner), no frame buffer beyond the 20 lags.
    */
  private val winEwma = Q(
    "win_ewma",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("em", "event_id")
      val wgts = (0 until 20).map(k => 1.0 / (1L << k))
      val num = (0 until 20).map(k =>
        coalesce(lag(col("value"), k).over(w), lit(0.0)) * lit(wgts(k)))
        .reduce(_ + _)
      val den = (0 until 20).map(k =>
        when(lag(col("value"), k).over(w).isNotNull, lit(wgts(k)))
          .otherwise(lit(0.0)))
        .reduce(_ + _)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"),
          col("value"))
        .withColumn("ewma", num / den)
        .orderBy("user_id", "em", "event_id")
    },
    Some {
      // CAST each weight literal to DOUBLE: a bare decimal literal is a
      // DECIMAL in DuckDB, which silently switches the whole chain to
      // decimal arithmetic (measured: 1-ulp divergence at sf0.01 row 10);
      // the cast is exact (2^-k is binary-exact) and restores the pure
      // double chain that matches Spark bit-for-bit.
      val wgts = (0 until 20).map(k =>
        s"CAST(${java.math.BigDecimal.valueOf(1.0 / (1L << k)).toPlainString} AS DOUBLE)")
      val num = (0 until 20)
        .map(k => s"coalesce(lag(value, $k) OVER w, 0.0) * ${wgts(k)}")
        .mkString(" + ")
      val den = (0 until 20)
        .map(k =>
          s"(CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN ${wgts(k)} ELSE 0.0 END)")
        .mkString(" + ")
      s"""SELECT user_id, event_id, em, value, ($num) / ($den) AS ewma
FROM (SELECT user_id, event_id, epoch_us(ts) AS em, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id)
ORDER BY user_id, em, event_id"""
    })

  /** COHORT RETENTION over the event stream — the product-analytics
    * matrix behind every "day-N retention" dashboard: users are cohorted
    * by the day of their FIRST event, and each (cohort, day-offset) cell
    * counts how many of them were active that many days later (day grain
    * because the fixture's 30-day span holds only ~5 weeks — week-grain
    * cohorts degenerate to a single all-retained cohort; the shape is
    * grain-agnostic). `retention = n_active / n_cohort` is one IEEE
    * division of two exact longs — RAW (strictly positive, no
    * signed-zero exposure). `day_offset`, not `offset`: OFFSET is a
    * DuckDB reserved word.
    *
    * Scale shape: activity collapses to user-day grain FIRST (one
    * distinct shuffle keyed on high-cardinality user_id); the cohort day
    * is a MIN over the same user key (AQE can reuse the exchange); the
    * final (cohort, offset) aggregate is calendar-bounded (days², not
    * data-sized), and cohort sizes join back BROADCAST on the tiny
    * cohort-day key. No window function at all — the min-over-user form
    * shuffles once where a row_number sort would shuffle and sort.
    */
  private val aggCohortRetention = Q(
    "agg_cohort_retention",
    (s, d) => {
      val uw = T.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), epoch).as("dn"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min(col("dn")).as("cdn"))
      val sizes = cohort.groupBy("cdn")
        .agg(countDistinct(col("user_id")).as("n_cohort"))
      uw.join(cohort, "user_id")
        .groupBy(col("cdn"), (col("dn") - col("cdn")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), "cdn")
        .select(col("cdn").as("cohort_dn"), col("day_offset"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort")).as("retention"))
        .orderBy("cohort_dn", "day_offset")
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id,
    CAST(ts AS DATE) - DATE '1970-01-01' AS dn FROM events),
cohort AS (SELECT user_id, min(dn) AS cdn FROM uw GROUP BY 1),
sizes AS (SELECT cdn, count(DISTINCT user_id) AS n_cohort FROM cohort GROUP BY 1),
act AS (SELECT cdn, dn - cdn AS day_offset, count(DISTINCT uw.user_id) AS n_active
  FROM uw JOIN cohort ON uw.user_id = cohort.user_id GROUP BY 1, 2)
SELECT cdn AS cohort_dn, day_offset, n_active, n_cohort,
CAST(n_active AS DOUBLE) / n_cohort AS retention
FROM act JOIN sizes USING (cdn)
ORDER BY cohort_dn, day_offset"""))

  /** Cumulative distinct users (§2.5 ext) — the "total uniques to date"
    * curve behind every growth dashboard, exactly (no HLL): per
    * (event_type, day) the day's distinct actives, the FIRST-SEEN count,
    * and the running total of distinct users through that day. The trick
    * that makes an exact cumulative-distinct scale: a user contributes to
    * the cumulative curve only on their first day, so
    * `cum_distinct = running_sum(n_new)` — no day re-scans any prior
    * day's users and no distinct-over-growing-window exists anywhere.
    *
    * Scale shape: one (type, user) min-day aggregate + one (type, user,
    * day) distinct for actives — both map-side combinable, keyed on
    * user_id; the window runs at CALENDAR grain (days per type), never
    * row grain. The left join is day-grain ⋈ day-grain (calendar-sized
    * both sides).
    */
  private val winCumulativeDistinct = Q(
    "win_cumulative_distinct",
    (s, d) => {
      val ev = T.events(s, d)
        .select(col("event_type"),
          col("user_id"), datediff(to_date(col("ts")), epoch).as("dn"))
      val firstSeen = ev.groupBy("event_type", "user_id")
        .agg(min(col("dn")).as("first_dn"))
      val newPerDay = firstSeen
        .groupBy(col("event_type"), col("first_dn").as("dn"))
        .agg(count(lit(1)).as("n_new"))
      val activePerDay = ev.distinct()
        .groupBy("event_type", "dn").agg(count(lit(1)).as("n_active"))
      val wCum = Window.partitionBy("event_type").orderBy("dn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      activePerDay.join(newPerDay, Seq("event_type", "dn"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_distinct", sum(col("n_new")).over(wCum))
        .orderBy("event_type", "dn")
    },
    // every-active-day-has-new-users is NOT assumed: the left join +
    // coalesce keeps a day alive when all its actives are returns
    Some("""WITH ev AS (SELECT event_type, user_id,
    CAST(ts AS DATE) - DATE '1970-01-01' AS dn FROM events),
fs AS (SELECT event_type, user_id, min(dn) AS first_dn FROM ev GROUP BY 1, 2),
np AS (SELECT event_type, first_dn AS dn, count(*) AS n_new
  FROM fs GROUP BY 1, 2),
ap AS (SELECT event_type, dn, count(DISTINCT user_id) AS n_active
  FROM ev GROUP BY 1, 2)
SELECT ap.event_type AS event_type, ap.dn AS dn, n_active,
  coalesce(n_new, 0) AS n_new,
  CAST(sum(coalesce(n_new, 0)) OVER (PARTITION BY ap.event_type
    ORDER BY ap.dn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS BIGINT) AS cum_distinct
FROM ap LEFT JOIN np ON ap.event_type = np.event_type AND ap.dn = np.dn
ORDER BY ap.event_type, ap.dn"""))

  /** Pareto skyline (§2.5 ext) — the classic dominance query: parts that
    * are Pareto-optimal on (price ↓, size ↑): no other part is at most as
    * expensive AND at least as large with one strict. The catalog
    * shortlist operator ("nothing on the list is strictly beaten"), and
    * the same shape prunes model/configuration sweeps.
    *
    * Executed as the sort-scan skyline, not a pair join: with parts
    * ordered by exact integer price-cents, a part survives iff its size
    * beats the running max size over all STRICTLY CHEAPER parts (a range
    * frame ending 1 before the current price) AND it holds the max size
    * within its own price tie group (same-price larger-size dominates;
    * equal (price, size) pairs don't dominate each other and all
    * survive). Both conditions are range-frame window maxima over ONE
    * price ordering — exact integer comparisons, no float exposure
    * anywhere (price enters as cents).
    *
    * Scale shape: the strictly-cheaper running max rides the two-stage
    * bucketed pattern instead of a global RANGE window over the part dim
    * — the frame collapses to DISTINCT-PRICE grain first (one hash agg:
    * per price its max size = the tie window for free), prices
    * equi-depth-bucket ([[graft.api.Fts.equiDepthBucketed]]), prior-bucket
    * maxima are an exclusive running max over the ≤ 32-row bucket
    * aggregate (an unpartitioned window, bounded by its input), and the
    * only fact-side window is the within-bucket EXCLUSIVE running max at
    * distinct-price grain (`greatest` skips nulls, so bucket heads and
    * the global minimum keep the no-cheaper-part NULL semantics). Pure
    * integer max algebra — max is associative/commutative, so the split
    * is exactly the global exclusive max and the outputs are
    * bit-identical (oracle unchanged, still the single-window form:
    * fixture-scale DuckDB).
    */
  private val winSkyline = Q(
    "win_skyline",
    (s, d) => {
      val pc = round(col("p_retailprice") * 100).cast("long")
      val parts = T.part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("p_retailprice"), pc.as("price_c"))
      val grp = parts.groupBy("price_c")
        .agg(max(col("p_size")).as("max_tie"))
        .withColumn("gk", lit(0))
      val b = graft.api.Fts.equiDepthBucketed(grp, "gk", "price_c", 32)
      val offs = b.groupBy("bucket").agg(max(col("max_tie")).as("bm"))
        .select(col("bucket"), max(col("bm")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)).as("off"))
      val wIn = Window.partitionBy("bucket").orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cheaper = b.join(broadcast(offs), "bucket")
        .withColumn("max_cheaper",
          greatest(col("off"), max(col("max_tie")).over(wIn)))
        .select(col("price_c"), col("max_tie"), col("max_cheaper"))
      parts.join(cheaper, "price_c")
        .filter(col("p_size") > coalesce(col("max_cheaper"), lit(-1)) &&
          col("p_size") === col("max_tie"))
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("p_retailprice"))
        .orderBy("p_retailprice", "p_partkey")
    },
    Some("""WITH p AS (SELECT p_partkey, p_name, p_size, p_retailprice,
    CAST(round(p_retailprice * 100) AS BIGINT) AS price_c FROM part),
w AS (SELECT p_partkey, p_name, p_size, p_retailprice,
    max(p_size) OVER (ORDER BY price_c
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_cheaper,
    max(p_size) OVER (PARTITION BY price_c) AS max_tie
  FROM p)
SELECT p_partkey, p_name, p_size, p_retailprice
FROM w
WHERE p_size > coalesce(max_cheaper, -1) AND p_size = max_tie
ORDER BY p_retailprice, p_partkey"""))

  /** Seasonality profile (§2.4 ext) — the day-of-week × hour-of-day
    * traffic heatmap over the event stream (ISO dow 1–7 × hour 0–23):
    * per cell the event count, exact-decimal value sum, and the share of
    * total traffic — the calendar fingerprint behind load forecasting and
    * "is this dip a weekend or an outage". All exact longs / dsum /
    * one IEEE ratio → RAW.
    *
    * Scale shape: ONE calendar-dims hash aggregate with map-side combine
    * (≤168 groups regardless of volume) + the 1-row total broadcast.
    * Engine note: Spark's `weekday` (Mon=0) + 1 equals DuckDB's `isodow`
    * — `dayofweek` starts Sunday=1 in Spark and Sunday=0 in DuckDB, the
    * off-by-one every cross-engine calendar query trips on.
    */
  private val aggSeasonalProfile = Q(
    "agg_seasonal_profile",
    (s, d) => {
      val ev = T.events(s, d)
        .select((weekday(col("ts")) + 1).as("dow"), hour(col("ts")).as("hod"),
          col("value"))
      val tot = ev.agg(count(lit(1)).as("total"))
      ev.groupBy("dow", "hod")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .crossJoin(broadcast(tot))
        .select(col("dow"), col("hod"), col("n"), col("sum_value"),
          (col("n").cast("double") / col("total")).as("share"))
        .orderBy("dow", "hod")
    },
    Some(s"""WITH e AS (SELECT isodow(ts) AS dow, hour(ts) AS hod, value FROM events),
t AS (SELECT count(*) AS total FROM e)
SELECT dow, hod, count(*) AS n, ${dsumSql("value")} AS sum_value,
  CAST(count(*) AS DOUBLE) / total AS share
FROM e, t GROUP BY dow, hod, total
ORDER BY dow, hod"""))

  /** Last-touch conversion attribution (§2.5 ext) — every purchase
    * credits the user's most recent PRECEDING view-or-click (the standard
    * last-touch marketing model; purchases with no prior touch surface as
    * 'none' rather than dropping). Emits the channel rollup
    * (attributed_type, n_purchases, share) — which interaction type
    * actually precedes conversion, the attribution dashboard's first
    * number. Share is an exact-long IEEE ratio → RAW.
    *
    * Scale shape: the [[graft.api.Fts.asofLastBefore]] pattern — ONE
    * per-user window pass (last-non-null lookback over the merged event
    * stream; no self-join, no per-pair scan), then a 3-row channel
    * aggregate with the 1-row total broadcast.
    */
  private val winAttribution = Q(
    "win_attribution",
    (s, d) => {
      val wPrev = Window.partitionBy("user_id").orderBy("em", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = last(
        when(col("event_type").isin("view", "click"), col("event_type")),
        ignoreNulls = true).over(wPrev)
      val p = T.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          em(col("ts")).as("em"))
        .withColumn("attr", touch)
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("attr"), lit("none")).as("attributed_type"))
      val tot = p.agg(count(lit(1)).as("total"))
      p.groupBy("attributed_type")
        .agg(count(lit(1)).as("n_purchases"))
        .crossJoin(broadcast(tot))
        .select(col("attributed_type"), col("n_purchases"),
          (col("n_purchases").cast("double") / col("total")).as("share"))
        .orderBy("attributed_type")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
    epoch_us(ts) AS em FROM events),
w AS (SELECT event_type,
    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
        IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY em, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
  FROM e),
p AS (SELECT coalesce(attr, 'none') AS attributed_type FROM w
      WHERE event_type = 'purchase'),
t AS (SELECT count(*) AS total FROM p)
SELECT attributed_type, count(*) AS n_purchases,
  CAST(count(*) AS DOUBLE) / total AS share
FROM p, t GROUP BY attributed_type, total
ORDER BY attributed_type"""))

  /** NEAREST-neighbor as-of join (§2.3/2.5 ext) — for every error event,
    * the nearest click by the SAME user in EITHER time direction (the
    * bidirectional completion of join_asof's backward-only rule): which
    * interaction was this failure closest to? Emits per error: both
    * candidate click timestamps (prev/next in the user's total event
    * order), the winning |Δµs|, and the direction ('prev' on exact ties —
    * deterministic; 'none' for users with no clicks at all, who still
    * surface rather than silently drop).
    *
    * Declared as a θ-join (argmin over |t_a − t_b| per left row), executed
    * as ONE per-user window pass: a last-non-null lookback and a
    * first-non-null lookahead over the merged event stream replace the
    * per-pair distance scan entirely — the same
    * windows-instead-of-θ-join rewrite as join_asof, run once in each
    * direction over one exchange. All integer µs arithmetic → RAW.
    *
    * Scale shape: one shuffle on high-cardinality user_id, one sort, two
    * frame-bounded window functions sharing the spec; no self-join, no
    * candidate blowup, no driver state.
    */
  private val joinAsofNearest = Q(
    "join_asof_nearest",
    (s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("em", "event_id")
      val clickEm = when(col("event_type") === "click", col("em"))
      val prevC = last(clickEm, ignoreNulls = true)
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      val nextC = first(clickEm, ignoreNulls = true)
        .over(wOrd.rowsBetween(1, Window.unboundedFollowing))
      T.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          em(col("ts")).as("em"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("em"), prevC.as("prev_click_em"), nextC.as("next_click_em"))
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("em"),
          col("prev_click_em"), col("next_click_em"),
          when(col("prev_click_em").isNull && col("next_click_em").isNull,
            lit(null).cast("long"))
            .when(col("next_click_em").isNull ||
              (col("prev_click_em").isNotNull &&
                col("em") - col("prev_click_em") <= col("next_click_em") - col("em")),
              col("em") - col("prev_click_em"))
            .otherwise(col("next_click_em") - col("em")).as("delta_us"),
          when(col("prev_click_em").isNull && col("next_click_em").isNull, "none")
            .when(col("next_click_em").isNull ||
              (col("prev_click_em").isNotNull &&
                col("em") - col("prev_click_em") <= col("next_click_em") - col("em")),
              "prev")
            .otherwise("next").as("direction"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
    epoch_us(ts) AS em FROM events),
w AS (SELECT user_id, event_id, event_type, em,
    last_value(CASE WHEN event_type = 'click' THEN em END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY em, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_em,
    first_value(CASE WHEN event_type = 'click' THEN em END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY em, event_id
        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_em
  FROM e)
SELECT user_id, event_id, em, prev_click_em, next_click_em,
  CASE WHEN prev_click_em IS NULL AND next_click_em IS NULL THEN NULL
       WHEN next_click_em IS NULL OR (prev_click_em IS NOT NULL
         AND em - prev_click_em <= next_click_em - em)
         THEN em - prev_click_em
       ELSE next_click_em - em END AS delta_us,
  CASE WHEN prev_click_em IS NULL AND next_click_em IS NULL THEN 'none'
       WHEN next_click_em IS NULL OR (prev_click_em IS NOT NULL
         AND em - prev_click_em <= next_click_em - em)
         THEN 'prev'
       ELSE 'next' END AS direction
FROM w WHERE event_type = 'error'
ORDER BY user_id, event_id"""))

  /** Kaplan–Meier survival curve (§2.4/2.5 ext) over order→ship latency —
    * the time-to-event analytic behind "how long until a queued transfer
    * actually ships, given some never observably do": duration = weeks from
    * order date to ship date, an observation is an EVENT if the lineitem
    * was not returned (`l_returnflag != 'R'`) and CENSORED otherwise (the
    * return hides the true outcome — the standard right-censoring story).
    * Per distinct week t: the at-risk count (observations with duration
    * ≥ t), events d, censorings c, and the KM estimate
    * `S(t) = Π_{u<=t} (1 − d_u/n_u)`. Negative-duration rows (the synthetic
    * fixture ships some lines before the order date) are excluded upfront.
    *
    * Float discipline: d, c, n_risk are exact longs (reverse-cumulative
    * window sums); the product runs as exp(Σ ln(1 − d/n)) with each ln term
    * [[H.q6]]-quantized and the cumulative sum in DECIMAL(28,6) (the
    * header's running-sum rule — DuckDB's segment-tree window association
    * order never sees raw doubles); exp is libm → [[H.r4]] on the strictly
    * positive survival. A week where d = n (everyone at risk dies) zeroes
    * S from there on — handled by an exact integer flag and a cumulative
    * zero counter, never by ln(0).
    *
    * Scale shape: one hash aggregate collapses the fact join to WEEK grain;
    * all three windows run over that bounded-cardinality frame (the
    * winNtile caveat — a finer-than-week grain on an unbounded horizon
    * would take the ntileScalable two-stage prefix-sum form).
    */
  private val aggSurvivalKm = Q(
    "agg_survival_km",
    (s, d) => {
      val b = T.lineitem(s, d)
        .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")),
            to_date(col("o_orderdate"))).as("days"),
          (col("l_returnflag") =!= "R").as("ev"))
        .filter(col("days") >= 0)
      val g = calendarBounded(
        b.groupBy(floor(col("days") / lit(7.0)).cast("long").as("t_wk"))
          .agg(count(when(col("ev"), 1)).as("d_ev"),
            count(when(!col("ev"), 1)).as("c_cens")),
        max(col("t_wk")) - min(col("t_wk")) + 1, "agg_survival_km")
      val wRev = Window.orderBy("t_wk")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wCum = Window.orderBy("t_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = g.withColumn("n_risk",
        sum(col("d_ev") + col("c_cens")).over(wRev))
      val sLn = r
        .withColumn("lnf", when(col("n_risk") > col("d_ev"),
          q6(log((col("n_risk") - col("d_ev")).cast("double")
            / col("n_risk")))))
        .withColumn("zc", sum(when(col("n_risk") === col("d_ev"), 1L)
          .otherwise(0L)).over(wCum))
      sLn.select(col("t_wk"), col("n_risk"), col("d_ev"), col("c_cens"),
          when(col("zc") > 0L, lit(0.0)).otherwise(
            r4(exp(sum(col("lnf")
              .cast(org.apache.spark.sql.types.DecimalType(28, 6))).over(wCum)
              .cast("double")))).as("s_km"))
        .orderBy("t_wk")
    },
    Some(s"""WITH b0 AS (SELECT
    CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS days,
    (l_returnflag != 'R') AS ev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
b AS (SELECT * FROM b0 WHERE days >= 0),
g AS (SELECT CAST(days // 7 AS BIGINT) AS t_wk,
        count(*) FILTER (WHERE ev) AS d_ev,
        count(*) FILTER (WHERE NOT ev) AS c_cens
      FROM b GROUP BY 1),
r AS (SELECT t_wk, d_ev, c_cens,
        CAST(sum(d_ev + c_cens) OVER (ORDER BY t_wk
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      FROM g),
s AS (SELECT t_wk, n_risk, d_ev, c_cens,
        CASE WHEN n_risk > d_ev
          THEN ${q6Sql("ln(CAST(n_risk - d_ev AS DOUBLE) / n_risk)")} END AS lnf,
        CAST(sum(CASE WHEN n_risk = d_ev THEN 1 ELSE 0 END)
          OVER (ORDER BY t_wk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS zc
      FROM r)
SELECT t_wk, n_risk, d_ev, c_cens,
  CASE WHEN zc > 0 THEN CAST(0.0 AS DOUBLE)
    ELSE round(exp(CAST(sum(CAST(lnf AS DECIMAL(28,6)))
      OVER (ORDER BY t_wk ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 4) END AS s_km
FROM s ORDER BY t_wk"""))

  /** Gaps-and-islands — the classic streak/outage detector (consecutive
    * active DAYS per user, one row per maximal run): the SQL idiom every
    * sessionization-adjacent pipeline needs that [[winSessionize]]'s
    * timeout-gap grouping doesn't express (islands are defined by
    * CALENDAR adjacency, not event spacing). Implemented with the
    * canonical `day − row_number()` constant-per-island trick.
    *
    * Scale shape: the corpus collapses to DISTINCT (user, day) grain
    * first (one hash agg, map-side combinable — days-per-user ≤ calendar
    * span regardless of event volume); the window partitions BY USER
    * (parallel across users, no global sort); islands aggregate on the
    * (user, grp) key. Day arithmetic is INTEGER division of epoch-µs
    * longs (`div` — epoch-µs ≈ 1.7e18 exceeds double's 2^53 exact range,
    * so float division would corrupt day boundaries; the T.events
    * contract).
    */
  private val winGapsIslands = Q(
    "win_gaps_islands",
    (s, d) => {
      val days = T.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"))
        .select("user_id", "start_day", "end_day", "n_days")
        .orderBy("user_id", "start_day")
    },
    Some("""WITH dd AS (SELECT DISTINCT user_id,
    epoch_us(ts) // 86400000000 AS day FROM events),
r AS (SELECT user_id, day,
    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM dd)
SELECT user_id, min(day) AS start_day, max(day) AS end_day,
count(*) AS n_days
FROM r GROUP BY user_id, grp ORDER BY user_id, start_day"""))

  /** Autocorrelation function (§2.4 ext) — sample ACF of the daily
    * event-count series per event_type at lags 1..7: the periodicity
    * diagnostic that turns [[aggSeasonalProfile]]'s "what does a week look
    * like" into "HOW self-similar is the series at each offset" (a weekly
    * cycle shows as an acf peak at lag 7; a trend as slow decay). Standard
    * sample ACF: r_l = Σ_{t>l}(x_t−x̄)(x_{t−l}−x̄) / Σ(x_t−x̄)², full-series
    * mean and denominator.
    *
    * Float discipline (the agg_ols_fit precedent): counts are exact
    * integers, so every sufficient statistic (Σx, Σx², Σx_t·x_{t−l}, the
    * lag-restricted Σ over each margin) is an EXACT bigint cast once to
    * double, and the closed-form expansion
    * `(sxy − x̄(sa+sb) + n_l·x̄²) / (q − s²/n)` is identical IEEE ops on
    * identical bits in both engines → acf emits RAW, same expression tree
    * in the oracle.
    *
    * Scale shape: the corpus collapses to CALENDAR grain (one map-side-
    * combinable (type, day) count) in its single full pass; the time index,
    * the lag self-join (t = t−l band), and both stat aggs all run on the
    * days×types frame — at 100 TB that is still thousands of rows. Row-lag
    * (not date-lag) semantics via row_number, so a day gap shifts rather
    * than zero-fills the series — the definition both engines replay
    * identically regardless of calendar holes.
    */
  private val aggAutocorr = Q(
    "agg_autocorr",
    (s, d) => {
      val daily = T.events(s, d)
        .groupBy(col("event_type"),
          to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val idx = daily.select(col("event_type"),
        row_number().over(w).as("t"), col("x"))
      val st = idx.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("s"),
        sum(col("x") * col("x")).cast("double").as("q"))
      val b = idx.select(col("event_type").as("b_type"),
        col("t").as("tb"), col("x").as("xb"))
      val pr = idx.join(b, col("event_type") === col("b_type") &&
          (col("t") - col("tb")).between(1, 7))
        .select(col("event_type"), (col("t") - col("tb")).as("lag"),
          col("x").as("xa"), col("xb"))
      val g = pr.groupBy("event_type", "lag").agg(
        count(lit(1)).as("n_pairs"),
        sum(col("xa") * col("xb")).cast("double").as("sxy"),
        sum(col("xa")).cast("double").as("sa"),
        sum(col("xb")).cast("double").as("sb"))
      g.join(st, "event_type")
        .select(col("event_type"), col("lag").cast("int").as("lag"),
          col("n_pairs"),
          ((col("sxy") - col("s") / col("n") * (col("sa") + col("sb"))
            + col("n_pairs").cast("double")
              * (col("s") / col("n")) * (col("s") / col("n")))
            / (col("q") - col("s") * col("s") / col("n"))).as("acf"))
        .orderBy("event_type", "lag")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
    count(*) AS x FROM events GROUP BY 1, 2),
idx AS (SELECT event_type,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t, x
  FROM daily),
st AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(x) AS DOUBLE) AS s, CAST(sum(x * x) AS DOUBLE) AS q
  FROM idx GROUP BY 1),
pr AS (SELECT a.event_type, a.t - b.t AS lag, a.x AS xa, b.x AS xb
  FROM idx a JOIN idx b ON a.event_type = b.event_type
    AND a.t - b.t BETWEEN 1 AND 7),
g AS (SELECT event_type, lag, count(*) AS n_pairs,
    CAST(sum(xa * xb) AS DOUBLE) AS sxy, CAST(sum(xa) AS DOUBLE) AS sa,
    CAST(sum(xb) AS DOUBLE) AS sb
  FROM pr GROUP BY 1, 2)
SELECT g.event_type, CAST(lag AS INTEGER) AS lag, n_pairs,
(sxy - s / n * (sa + sb)
  + CAST(n_pairs AS DOUBLE) * (s / n) * (s / n)) / (q - s * s / n) AS acf
FROM g JOIN st ON g.event_type = st.event_type
ORDER BY g.event_type, lag"""))

  /** OHLC resample bars (§2.5 ext) — the market-data candlestick idiom
    * applied to the events stream: per (event_type, day), the value at the
    * FIRST event of the day (open), the day's max/min (high/low), the
    * value at the LAST event (close), plus count and exact turnover. The
    * downsample-for-dashboards shape: 10k events become 150 bars.
    *
    * Determinism under timestamp TIES (the fixture has same-µs events):
    * open/close are defined as the MIN value among rows at the minimal
    * timestamp and the MAX value among rows at the maximal one — a total
    * definition both engines compute identically (min_by/arg_min would be
    * tie-nondeterministic). Implemented as one window pass (per-bar min/max
    * epoch-µs) + one conditional agg — no join-back.
    *
    * Scale shape: the window partitions by (type, day) — bounded
    * partitions, parallel across bars, no global sort; high/low/open/close
    * are exact fixture doubles emitted RAW; turnover is the exact DECIMAL
    * sum. At 100 TB the same two passes hold (window state is per-bar
    * min/max only); a pre-agg per (type, day, em) would bound even a
    * single-bar hot day.
    */
  private val winOhlc = Q(
    "win_ohlc",
    (s, d) => {
      val ev = T.events(s, d).select(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"),
        em(col("ts")).as("e"), col("value"))
      val w = Window.partitionBy("event_type", "day")
      ev.withColumn("ts0", min(col("e")).over(w))
        .withColumn("ts1", max(col("e")).over(w))
        .groupBy("event_type", "day")
        .agg(
          min(when(col("e") === col("ts0"), col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("e") === col("ts1"), col("value"))).as("close"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("turnover"))
        .orderBy("event_type", "day")
    },
    Some(s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
    epoch_us(ts) AS e, value FROM events),
w AS (SELECT *,
    min(e) OVER (PARTITION BY event_type, day) AS ts0,
    max(e) OVER (PARTITION BY event_type, day) AS ts1
  FROM ev)
SELECT event_type, day,
min(value) FILTER (WHERE e = ts0) AS open,
max(value) AS high, min(value) AS low,
max(value) FILTER (WHERE e = ts1) AS close,
count(*) AS n_events, ${dsumSql("value")} AS turnover
FROM w GROUP BY event_type, day ORDER BY event_type, day"""))

  /** Pareto / ABC classification (§2.5 ext) — the inventory-analytics
    * idiom: parts ranked by revenue, classified A (first 80 % of
    * cumulative revenue share), B (to 95 %), C (tail), with per-class
    * rollups. The class boundary uses the cumulative share INCLUDING the
    * current part, tie-broken (revenue DESC, partkey ASC) so the cut is
    * total-order deterministic in both engines.
    *
    * Scale shape: revenue collapses to PART grain in one map-side-
    * combinable hash agg (exact decimal sums); the cumulative window and
    * classification run at dimension grain — the global sort is over
    * parts, never lineitem rows; the final rollup is 3 groups.
    *
    * Float discipline: revenue is [[H.dsum]]-exact; the total and the
    * cumulative sum stay DECIMAL through the share division (one double
    * division of exact decimals per part — identical IEEE) → RAW.
    */
  private val winParetoAbc = Q(
    "win_pareto_abc",
    (s, d) => {
      val D184 = org.apache.spark.sql.types.DecimalType(18, 4)
      val rev = T.lineitem(s, d).groupBy("l_partkey")
        .agg(sum(m2(col("l_extendedprice")).cast(D184)).as("rev"))
      // r15 (the r14 verdict's dimension-grain-sort ask): the per-part
      // cumulative revenue rides the two-stage bucketed prefix sum instead
      // of a global (rev DESC, partkey) window — the part dim at 100x can
      // be 10^8 rows. Revenue moves into EXACT integer 1e-4 units (the
      // DECIMAL(18,4) is 4-decimal by construction, so ×10⁴ is a lossless
      // LONG): cumulativeCounts2 at distinct-(−rev) grain gives the
      // inclusive tie-group sums, the per-row cumulative rebuilds as
      // (cum − tie_total + k·rev) with k the row_number INSIDE the tie
      // group (window partitioned by the revenue value — reducer input is
      // one tie run), and cum_share divides the exact LONG units as one
      // identical-IEEE double op. The oracle uses the same integer-units
      // division (its window form is fixture-scale), so both engines land
      // identical bits — the ntile_scalable oracle precedent.
      // the total stays EXACT DECIMAL(38,0) (r15 ADVICE: a cast-to-long
      // total nulls on overflow with ANSI off, silently classifying every
      // part 'C' exactly where DuckDB would error); decimal→double and
      // long→double round identically on the same integer, so cum_share's
      // bits are unchanged. The LONG cumulative inside cumulativeCounts2
      // needs totals < 2⁶³ — asserted loudly below instead of wrapping.
      val D380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val tot = rev.agg(sum(col("rev") * 10000).cast(D380).as("tu"))
      val revL = rev
        .withColumn("rl", (col("rev") * 10000).cast("long"))
        .withColumn("negrl", -col("rl")).withColumn("gk", lit(0))
      val cc = graft.api.Fts.cumulativeCounts2(
          revL, "gk", "negrl", lit(1L), col("rl"))
        .select(col("negrl"), col("c1"), col("cum2"))
      val wTie = Window.partitionBy("rl").orderBy("l_partkey")
      val cum = revL.join(cc, "negrl")
        .withColumn("k", row_number().over(wTie))
        .withColumn("cum_units",
          col("cum2") - col("c1") * col("rl") + col("k") * col("rl"))
        .crossJoin(broadcast(tot))
        .filter(assert_true(col("tu") <= lit(Long.MaxValue).cast(D380),
          lit("win_pareto_abc: total revenue units exceed Long range — the " +
            "LONG prefix-sum precondition is violated; rescale the unit")).isNull)
        .withColumn("cum_share",
          col("cum_units").cast("double") / col("tu").cast("double"))
        .withColumn("abc", when(col("cum_share") <= 0.80, "A")
          .when(col("cum_share") <= 0.95, "B").otherwise("C"))
      cum.groupBy("abc").agg(
          count(lit(1)).as("n_parts"),
          sum(col("rev")).cast("double").as("class_rev"),
          min("cum_share").as("min_share"), max("cum_share").as("max_share"))
        .orderBy("abc")
    },
    Some(s"""WITH rev AS (SELECT l_partkey,
    sum(CAST(${m2Sql("l_extendedprice")} AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY 1),
rl AS (SELECT l_partkey, rev, CAST(rev * 10000 AS BIGINT) AS rl FROM rev),
t AS (SELECT CAST(sum(rl) AS BIGINT) AS tu FROM rl),
c AS (SELECT l_partkey, rev,
    CAST(sum(rl) OVER (ORDER BY rl DESC, l_partkey
      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(tu AS DOUBLE) AS cum_share
  FROM rl, t),
k AS (SELECT *, CASE WHEN cum_share <= 0.80 THEN 'A'
    WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc FROM c)
SELECT abc, count(*) AS n_parts,
  CAST(sum(rev) AS DOUBLE) AS class_rev,
  min(cum_share) AS min_share, max(cum_share) AS max_share
FROM k GROUP BY abc ORDER BY abc"""))

  /** Mann–Kendall trend test (§2.5 ext) — the nonparametric "is this
    * series trending?" monitor next to agg_drift_cusum's change-point
    * and agg_autocorr's periodicity: per event_type, S = Σ_{i<j}
    * sign(c_j − c_i) over the DAILY count series, tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    * continuity-corrected z with a ±1.96 trend verdict.
    *
    * Scale shape: the corpus collapses to CALENDAR grain first (one
    * map-side (type, day) count); the i<j pair join runs on the
    * days×types frame — bounded by the calendar span squared, constant
    * in corpus size. Every sufficient statistic (S, tie sum, n) is an
    * exact integer; z is identical IEEE → ALL RAW.
    */
  private val winMannKendall = Q(
    "win_mann_kendall",
    (s, d) => {
      val daily = T.events(s, d)
        .select(col("event_type"), expr("unix_micros(ts) div 86400000000")
          .as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("c").as("c1"))
      val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
        col("c").as("c2"))
      val sStat = a.join(b,
          col("event_type") === col("et2") && col("d1") < col("d2"))
        .groupBy("event_type")
        .agg(sum(signum(col("c2") - col("c1")).cast("long")).as("s_stat"))
      val ties = daily.groupBy("event_type", "c")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_sum"), sum(col("t")).as("n_days"))
      val g = sStat.join(ties, "event_type")
      val nD = col("n_days").cast("double")
      val varS = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
        col("tie_sum").cast("double")) / lit(18.0)
      val sD = col("s_stat").cast("double")
      val z = when(col("s_stat") > 0, (sD - 1.0) / sqrt(varS))
        .when(col("s_stat") < 0, (sD + 1.0) / sqrt(varS))
        .otherwise(lit(0.0))
      g.select(col("event_type"), col("n_days"), col("s_stat"),
          varS.as("var_s"), z.as("z"),
          when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
            .otherwise("none").as("trend"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type,
    epoch_us(ts) // 86400000000 AS day, count(*) AS c
  FROM events GROUP BY 1, 2),
s AS (SELECT a.event_type,
    CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END)
      AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1),
t AS (SELECT event_type,
    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
    CAST(sum(t) AS BIGINT) AS n_days
  FROM (SELECT event_type, c, count(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1),
g AS (SELECT event_type, n_days, s_stat,
    (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)
      * (2.0 * CAST(n_days AS DOUBLE) + 5.0) - CAST(tie_sum AS DOUBLE))
      / 18.0 AS var_s
  FROM s JOIN t USING (event_type))
SELECT event_type, n_days, s_stat, var_s,
  CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
       WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
       ELSE 0.0 END AS z,
  CASE WHEN (CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END) > 1.96 THEN 'increasing'
       WHEN (CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END) < -1.96 THEN 'decreasing'
       ELSE 'none' END AS trend
FROM g ORDER BY event_type"""))

  /** Weekly trend/seasonal/remainder decomposition (§2.5 ext) — the
    * STL-shaped additive decomposition of the per-type daily count
    * series: trend = centered 7-day moving average (emitted only where
    * the frame is FULL — edge days stay NULL rather than biased),
    * seasonal = mean detrended value per weekday, remainder = the rest.
    * Closes the time-series triad with agg_seasonal_profile (weekday
    * averages), agg_autocorr (periodicity), win_mann_kendall (trend
    * test) — this one SEPARATES the components instead of summarizing
    * one.
    *
    * Float discipline: counts are exact ints; trend is an exact-int
    * window sum / 7.0 (identical IEEE); detrended values are identical
    * doubles, and their weekday means quantize at [[H.q6]] + sum as
    * exact DECIMAL; the remainder subtraction is identical IEEE → no
    * rounding anywhere. The 7-row frame is ROWS-based on the day-ordered
    * series (identical semantics in both engines; the fixture calendar
    * is contiguous so rows == days).
    *
    * Scale shape: corpus collapses to CALENDAR grain first; the moving
    * window, weekday-grain means, and the join-back all run on the
    * days×types frame — constant-size at any corpus scale.
    */
  private val winStlDecompose = Q(
    "win_stl_decompose",
    (s, d) => {
      val daily = T.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val t = daily
        .withColumn("wsum", sum(col("c")).over(w))
        .withColumn("wcnt", count(lit(1)).over(w))
        .withColumn("trend",
          when(col("wcnt") === 7, col("wsum").cast("double") / lit(7.0)))
        .withColumn("dow", expr("day % 7"))
      val seas = t.filter(col("trend").isNotNull)
        .groupBy("event_type", "dow")
        .agg((dec6Sum(q6(col("c").cast("double") - col("trend"))) /
          count(lit(1)).cast("double")).as("seasonal"))
      t.join(seas, Seq("event_type", "dow"), "left_outer")
        .select(col("event_type"), col("day"), col("c"), col("trend"),
          col("seasonal"),
          (col("c").cast("double") - col("trend") - col("seasonal"))
            .as("remainder"))
        .orderBy("event_type", "day")
    },
    Some(s"""WITH daily AS (SELECT event_type,
    epoch_us(ts) // 86400000000 AS day, count(*) AS c
  FROM events GROUP BY 1, 2),
t AS (SELECT event_type, day, c, day % 7 AS dow,
    CASE WHEN count(*) OVER (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
      THEN CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7.0
      END AS trend
  FROM daily),
seas AS (SELECT event_type, dow,
    ${dec6SumSql(q6Sql("CAST(c AS DOUBLE) - trend"))}
      / CAST(count(*) AS DOUBLE) AS seasonal
  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2)
SELECT t.event_type, day, c, trend, seasonal,
  CAST(c AS DOUBLE) - trend - seasonal AS remainder
FROM t LEFT JOIN seas ON t.event_type = seas.event_type AND t.dow = seas.dow
ORDER BY t.event_type, day"""))

  /** Gap-fill by last observation carried forward (§2.5 ext) — the LOCF
    * idiom `last_value(... IGNORE NULLS)` exists for, distinct from
    * stream_interpolate's numeric blending: a daily series with planted
    * NULL readings (every 5th day's sensor "missed") filled with the most
    * recent non-NULL value, the fill flagged. Leading NULLs (before any
    * observation) stay NULL — LOCF is honest about never-seen state.
    *
    * Float discipline: the daily reading is max(value) (exact fixture
    * doubles, order-independent); the fill MOVES values, never computes
    * with them → everything RAW.
    *
    * Scale shape: corpus collapses to calendar grain first; the LOCF
    * window partitions BY TYPE over the days×types frame — bounded,
    * never row-grain.
    */
  private val winGapFillLocf = Q(
    "win_gap_fill_locf",
    (s, d) => {
      val daily = T.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"), col("value"))
        .groupBy("event_type", "day").agg(max("value").as("v"))
        .withColumn("raw_value",
          when(col("day") % 5 === 0, lit(null).cast("double"))
            .otherwise(col("v")))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("event_type"), col("day"), col("raw_value"),
          last(col("raw_value"), ignoreNulls = true).over(w)
            .as("filled_value"))
        .withColumn("was_filled",
          col("raw_value").isNull && col("filled_value").isNotNull)
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (SELECT event_type,
    epoch_us(ts) // 86400000000 AS day, max(value) AS v
  FROM events GROUP BY 1, 2),
p AS (SELECT event_type, day,
    CASE WHEN day % 5 = 0 THEN NULL ELSE v END AS raw_value
  FROM daily),
f AS (SELECT event_type, day, raw_value,
    last_value(raw_value IGNORE NULLS) OVER (PARTITION BY event_type
      ORDER BY day ROWS UNBOUNDED PRECEDING) AS filled_value
  FROM p)
SELECT event_type, day, raw_value, filled_value,
  raw_value IS NULL AND filled_value IS NOT NULL AS was_filled
FROM f ORDER BY event_type, day"""))

  /** Rolling 7-day Pearson correlation between two daily series (§2.5 ext,
    * r11) — the co-movement monitor next to [[aggAutocorr]]'s
    * self-movement: per day, do click volume and error volume move
    * together over the trailing week (a rising corr_7d is the "errors
    * scale with load" signature; a falling one, an error source decoupled
    * from traffic)? Emits (day, x, y, n_win, corr_7d) with corr NULL until
    * the window fills (n_win < 7) or when either side's trailing variance
    * is zero — surfaced honestly rather than emitting NaN.
    *
    * Float discipline: daily counts are exact BIGINTs, so every windowed
    * sufficient statistic (Σx, Σy, Σx², Σy², Σxy over ROWS 6 PRECEDING)
    * is an exact integer window sum — order-independent by construction,
    * no decimal needed (well under 2⁵³: counts ≤ ~10⁴/day even at 1000×
    * the fixture) — and the closing Pearson chain is identical
    * spelled-order IEEE on identical bits → RAW.
    *
    * Scale shape: the corpus collapses to CALENDAR grain in one
    * map-side-combinable conditional aggregate; the rolling window runs
    * unpartitioned over the DAYS frame (the winNtile caveat — bounded by
    * the calendar, not the corpus).
    */
  private val winRollingCorr = Q(
    "win_rolling_corr",
    (s, d) => {
      val daily = calendarBounded(
        T.events(s, d)
          .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("y")),
        datediff(max(col("day")), min(col("day"))) + 1, "win_rolling_corr")
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      val r = daily.select(col("day"), col("x"), col("y"),
        count(lit(1)).over(w).as("n_win"),
        sum(col("x")).over(w).as("sx"),
        sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"),
        sum(col("x") * col("y")).over(w).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val nD = dbl("n_win")
      val vx = nD * dbl("sxx") - dbl("sx") * dbl("sx")
      val vy = nD * dbl("syy") - dbl("sy") * dbl("sy")
      r.select(col("day"), col("x"), col("y"), col("n_win"),
          when(col("n_win") === 7L && vx > 0.0 && vy > 0.0,
            (nD * dbl("sxy") - dbl("sx") * dbl("sy")) / sqrt(vx * vy))
            .as("corr_7d"))
        .orderBy("day")
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
r AS (SELECT day, x, y,
    count(*) OVER w AS n_win,
    CAST(sum(x) OVER w AS BIGINT) AS sx,
    CAST(sum(y) OVER w AS BIGINT) AS sy,
    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
    CAST(sum(y * y) OVER w AS BIGINT) AS syy,
    CAST(sum(x * y) OVER w AS BIGINT) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
c AS (SELECT day, x, y, n_win,
    CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
    CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
    CAST(n_win AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy
  FROM r)
SELECT day, x, y, n_win,
  CASE WHEN n_win = 7 AND vx > 0.0 AND vy > 0.0
       THEN cxy / sqrt(vx * vy) END AS corr_7d
FROM c ORDER BY day"""))

  /** Bollinger bands (§2.5 ext, r12) — the rolling mean ± 2σ envelope over
    * the DAILY AVERAGE order value, the standard volatility channel of
    * monitoring dashboards ([[winRollingCorr]]'s co-movement monitor, here
    * applied to a single series' own dispersion): a day whose average
    * breaks its trailing-week band is the "order mix changed" signal.
    * Emits (day, avg_price_c, n_win, mid, upper, lower) in cents, bands
    * NULL until the 7-day window fills.
    *
    * Float discipline: the daily average is one IEEE division of exact
    * integers (Σcents / n — identical bits both engines), then the series
    * rounds to WHOLE CENTS (`floor(avc + 0.5)` — identical IEEE; a finer
    * [[H.q6]] grain would put x² ≈ 6e14 beyond the 1e-6 grid a double can
    * hold, the decimal-cast divergence the Graph scaladoc documents), so
    * every windowed sufficient statistic (Σx, Σx² over ROWS 6 PRECEDING)
    * is an exact BIGINT window sum — order-independent, and
    * scale-INVARIANT magnitudes (an average does not grow with the
    * corpus: x ≈ 2.4e7 cents, Σx² ≈ 4e15 < 2⁵³ at any SF, so the close
    * converts exactly). The closing mean/σ/band chain is identical
    * spelled-order IEEE → RAW.
    *
    * Scale shape: the corpus collapses to CALENDAR grain in one
    * map-side-combinable aggregate; the window runs unpartitioned over the
    * bounded days frame (the [[winRollingCorr]] caveat).
    */
  private val winBollinger = Q(
    "win_bollinger",
    (s, d) => {
      val daily = ordersDailyAvgC(s, d, "win_bollinger")
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      val r = daily.select(col("day"), col("x"),
        count(lit(1)).over(w).as("n_win"),
        sum(col("x")).over(w).cast("double").as("sx"),
        sum(col("x") * col("x")).over(w).cast("double").as("sxx"))
      val nD = col("n_win").cast("double")
      val m = col("sx") / nD
      val sd = sqrt(greatest(col("sxx") / nD - m * m, lit(0.0)))
      r.select(col("day"), col("x").as("avg_price_c"), col("n_win"),
          when(col("n_win") === 7L, m).as("mid"),
          when(col("n_win") === 7L, m + lit(2.0) * sd).as("upper"),
          when(col("n_win") === 7L, m - lit(2.0) * sd).as("lower"))
        .orderBy("day")
    },
    Some(s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(sum(${centsSql("o_totalprice")}) AS DOUBLE) / count(*) AS avc
  FROM orders GROUP BY 1),
q AS (SELECT day, CAST(floor(avc + 0.5) AS BIGINT) AS x FROM daily),
r AS (SELECT day, x,
    count(*) OVER w AS n_win,
    CAST(sum(x) OVER w AS DOUBLE) AS sx,
    CAST(sum(x * x) OVER w AS DOUBLE) AS sxx
  FROM q
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT day, x AS avg_price_c, n_win,
  CASE WHEN n_win = 7 THEN sx / n_win END AS mid,
  CASE WHEN n_win = 7 THEN sx / n_win
    + 2.0 * sqrt(greatest(sxx / n_win - (sx / n_win) * (sx / n_win), 0.0)) END AS upper,
  CASE WHEN n_win = 7 THEN sx / n_win
    - 2.0 * sqrt(greatest(sxx / n_win - (sx / n_win) * (sx / n_win), 0.0)) END AS lower
FROM r ORDER BY day"""))

  /** Peak-to-current DRAWDOWN over the daily-average-order-value series
    * (§2.5 ext, r12) — the running-maximum retracement metric (finance's
    * standard risk readout, and operationally "how far below its
    * historical best is this KPI right now"): per day, the all-time-high
    * of the series so far, the fractional drop from it, and the global
    * maximum drawdown constant-joined onto every row. The pure
    * window-composition complement to [[winBollinger]]'s dispersion bands
    * — a running MAX + one division, no statistics.
    *
    * Float discipline: the series is the same whole-cent exact grain as
    * the bands key; running max is pure comparison (order-independent, no
    * accumulation), and the drawdown quotient + global max are identical
    * IEEE on identical bits → RAW.
    *
    * Scale shape: calendar-grain input (one map-side-combinable daily
    * aggregate over the corpus); both windows run over the bounded days
    * frame.
    */
  private val winDrawdown = Q(
    "win_drawdown",
    (s, d) => {
      val daily = ordersDailyAvgC(s, d, "win_drawdown")
      val wRun = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = daily
        .withColumn("peak", max(col("x")).over(wRun))
        .withColumn("drawdown",
          (col("peak") - col("x")).cast("double")
            / col("peak").cast("double"))
      r.withColumn("max_drawdown",
          max(col("drawdown")).over(Window.partitionBy()))
        .select(col("day"), col("x").as("avg_price_c"), col("peak"),
          col("drawdown"), col("max_drawdown"))
        .orderBy("day")
    },
    Some(s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(sum(${centsSql("o_totalprice")}) AS DOUBLE) / count(*) AS avc
  FROM orders GROUP BY 1),
q AS (SELECT day, CAST(floor(avc + 0.5) AS BIGINT) AS x FROM daily),
r AS (SELECT day, x,
    max(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      AND CURRENT ROW) AS peak
  FROM q),
dd AS (SELECT day, x, peak,
  CAST(peak - x AS DOUBLE) / CAST(peak AS DOUBLE) AS drawdown FROM r)
SELECT day, x AS avg_price_c, peak, drawdown,
  max(drawdown) OVER () AS max_drawdown
FROM dd ORDER BY day"""))

  /** 14-day RSI (relative strength index, Cutler's SMA variant) over the
    * daily-average-order-value series (§2.5 ext, r13) — the bounded
    * momentum oscillator read beside [[winBollinger]]'s dispersion bands
    * and [[winDrawdown]]'s retracement: per day, the 14-day window sums of
    * up-moves vs down-moves in the series, closed as
    * `rsi = 100·gain/(gain+loss)`. Cutler's SMA form deliberately replaces
    * Wilder's recursive smoothing: the window sums stay EXACT whole-cent
    * integers (BIGINT in both engines) where the recursion would compound
    * float error and engine-order sensitivity. NULL until 14 diffs fill
    * the window (the bands-key convention) and on a flat window
    * (gain+loss = 0 — RSI undefined).
    *
    * Float discipline: day-over-day diffs, the up/down split and both
    * window sums are exact cents; rsi is ONE IEEE close over exact ints →
    * RAW. Scale shape: calendar-grain input (one map-side-combinable
    * daily aggregate over the corpus); both windows run over the bounded
    * days frame.
    */
  private val winRsi = Q(
    "win_rsi",
    (s, d) => {
      val daily = ordersDailyAvgC(s, d, "win_rsi")
      val wLag = Window.orderBy("day")
      val w14 = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
      val dd = daily
        .withColumn("diff", col("x") - lag(col("x"), 1).over(wLag))
      val r = dd.select(col("day"), col("x"),
        count(col("diff")).over(w14).as("n_diff"),
        sum(when(col("diff") > 0, col("diff")).otherwise(lit(0L)))
          .over(w14).as("gain_c"),
        sum(when(col("diff") < 0, -col("diff")).otherwise(lit(0L)))
          .over(w14).as("loss_c"))
      r.select(col("day"), col("x").as("avg_price_c"), col("n_diff"),
          col("gain_c"), col("loss_c"),
          when(col("n_diff") === 14L && col("gain_c") + col("loss_c") > 0L,
            (lit(100.0) * col("gain_c")) / (col("gain_c") + col("loss_c")))
            .as("rsi"))
        .orderBy("day")
    },
    Some(s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(sum(${centsSql("o_totalprice")}) AS DOUBLE) / count(*) AS avc
  FROM orders GROUP BY 1),
q AS (SELECT day, CAST(floor(avc + 0.5) AS BIGINT) AS x FROM daily),
dd AS (SELECT day, x, x - lag(x, 1) OVER (ORDER BY day) AS diff FROM q),
r AS (SELECT day, x,
    count(diff) OVER w AS n_diff,
    sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w AS gain_c,
    sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w AS loss_c
  FROM dd
  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT day, x AS avg_price_c, n_diff,
  CAST(gain_c AS BIGINT) AS gain_c, CAST(loss_c AS BIGINT) AS loss_c,
  CASE WHEN n_diff = 14 AND gain_c + loss_c > 0
    THEN (100.0 * gain_c) / (gain_c + loss_c) END AS rsi
FROM r ORDER BY day"""))

  /** MACD momentum divergence over the daily series (§2.5 ext, r13) — the
    * fast-vs-slow exponential-mean spread (spans 12 and 26), each EMA
    * computed with the [[winEwma]] TRUNCATED-KERNEL discipline: the
    * exponential kernel cuts at 20 lags and renormalizes by the weight
    * mass actually present, so every day's EMA is a FINITE dot product of
    * double literals — window-expressible, no recursion, and the oracle
    * carries the IDENTICAL literals (each weight emitted as its
    * shortest-round-trip decimal string, which every correctly-rounded
    * parser reads back to the same double). Truncation is a documented
    * semantic: at span 12 the cut tail holds (11/13)²⁰ ≈ 4 % of the
    * kernel mass; at span 26 ≈ 45 % — the slow line leans on the
    * renormalization by design (a 20-day exponential-profile mean).
    *
    * Float discipline: the weight literals are bit-identical by
    * construction; the num/den folds and the closing subtraction mirror
    * the oracle's spelled order term for term → RAW (the winEwma
    * precedent). Scale shape: calendar-grain; one window pass.
    */
  private val winMacd = Q(
    "win_macd",
    (s, d) => {
      val daily = ordersDailyAvgC(s, d, "win_macd")
      val w = Window.orderBy("day")
      // each TERM (one identical-IEEE multiply) quantizes at q6 and the
      // 20-term horizontal sum runs in exact DECIMAL(18,6) — the
      // dec6Sum(q6(...)) discipline applied to a per-row fold: a raw
      // double fold is order/fusion-sensitive at the last ulp across
      // engines (measured: 1-ulp ema divergence at sf0.01), and an
      // output-side quantization merely moves the divergence to the
      // grain boundaries. DECIMAL(18,6), not (28,6): DuckDB widens
      // addition by one digit per term and refuses past width 38
      val D186 = org.apache.spark.sql.types.DecimalType(18, 6)
      def ema(span: Int) = {
        val a = 2.0 / (span + 1)
        val wg = (0 until 20).map(k => a * math.pow(1.0 - a, k))
        val num = (0 until 20).map(k =>
          q6(coalesce(lag(col("x"), k).over(w), lit(0.0)) * lit(wg(k)))
            .cast(D186))
          .reduce(_ + _).cast("double")
        val den = (0 until 20).map(k =>
          q6(when(lag(col("x"), k).over(w).isNotNull, lit(wg(k)))
            .otherwise(lit(0.0))).cast(D186))
          .reduce(_ + _).cast("double")
        num / den
      }
      daily.select(col("day"), col("x").as("avg_price_c"),
          ema(12).as("ema12"), ema(26).as("ema26"))
        .withColumn("macd", col("ema12") - col("ema26"))
        .orderBy("day")
    },
    Some {
      def emaSql(span: Int): String = {
        val a = 2.0 / (span + 1)
        val wg = (0 until 20).map { k =>
          val v = a * math.pow(1.0 - a, k)
          s"CAST(${java.math.BigDecimal.valueOf(v).toPlainString} AS DOUBLE)"
        }
        val num = (0 until 20)
          .map(k => s"CAST(${q6Sql(s"coalesce(lag(x, $k) OVER w, 0.0) * ${wg(k)}")} AS DECIMAL(18,6))")
          .mkString(" + ")
        val den = (0 until 20)
          .map(k => s"CAST(${q6Sql(s"CASE WHEN lag(x, $k) OVER w IS NOT NULL THEN ${wg(k)} ELSE 0.0 END")} AS DECIMAL(18,6))")
          .mkString(" + ")
        s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)"
      }
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(sum(${centsSql("o_totalprice")}) AS DOUBLE) / count(*) AS avc
  FROM orders GROUP BY 1),
q AS (SELECT day, CAST(floor(avc + 0.5) AS BIGINT) AS x FROM daily),
r AS (SELECT day, x, ${emaSql(12)} AS ema12, ${emaSql(26)} AS ema26
  FROM q WINDOW w AS (ORDER BY day))
SELECT day, x AS avg_price_c, ema12, ema26, ema12 - ema26 AS macd
FROM r ORDER BY day"""
    })

  /** Holt linear-trend smoothing (§2.5 ext, r14) — the forecasting
    * primitive one rung above [[winEwma]]'s level-only smoother: per
    * event type, the daily event-count series runs the two-state Holt
    * recurrence (α = β = ½) via [[graft.api.Fts.holtSmooth]], emitting
    * (event_type, day, y, level, trend, forecast_1 = level + trend) —
    * the one-step-ahead forecast a capacity monitor alerts on.
    *
    * A sequential recurrence cannot ride a window frame (each state
    * depends on the PREVIOUS output, not on input rows), so this is the
    * third recurrence idiom in the engine after win_ewma's truncated
    * expansion (level-only — a trend state does not linearize into a
    * short lag chain) and pagerankUntil's per-round jobs (overkill for a
    * calendar-bounded series): a bounded-series fold. The corpus
    * collapses to CALENDAR × type grain first (the STL discipline), so
    * the collected arrays are ~30 elements at any corpus scale.
    *
    * Float discipline: ½ is a power of two and daily counts are exact
    * integers, so every level/trend is a dyadic rational gaining one
    * fraction bit per step — EXACT double arithmetic at this span
    * (integer bits + steps ≪ 52), identical spelled-order IEEE beyond;
    * the DuckDB twin steps the same formulas in a recursive CTE with its
    * 0.5 literals CAST to DOUBLE (the win_ewma decimal-literal lesson).
    * Emitted RAW.
    */
  private val winHoltTrend = Q(
    "win_holt_trend",
    (s, d) => {
      val daily = T.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
      graft.api.Fts.holtSmooth(daily, "event_type", "day", "y")
        .withColumn("forecast_1", col("level") + col("trend"))
        .orderBy("event_type", "day")
    },
    Some("""WITH RECURSIVE
g AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2),
r AS (SELECT event_type, day, y,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t FROM g),
h(event_type, day, y, t, level, trend) AS (
  SELECT event_type, day, y, t, y AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM r WHERE t = 1
  UNION ALL
  SELECT r.event_type, r.day, r.y, r.t,
    CAST(0.5 AS DOUBLE) * r.y + CAST(0.5 AS DOUBLE) * (h.level + h.trend),
    CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * r.y
        + CAST(0.5 AS DOUBLE) * (h.level + h.trend)) - h.level)
      + CAST(0.5 AS DOUBLE) * h.trend
  FROM h JOIN r ON r.event_type = h.event_type AND r.t = h.t + 1)
SELECT event_type, day, y, level, trend, level + trend AS forecast_1
FROM h ORDER BY event_type, day"""))

  val all: Seq[Q] = Seq(winHoltTrend, winBollinger, winDrawdown, winRsi, winMacd,
    winRollingCorr, winRankTopk, winNtile, winNtileScalable, winLagLead,
    winTransitionMatrix, winSessionize, winScd2Intervals, winRunningSum,
    winSlidingAvg, winRangeFrame, winFirstLastPctrank, winFunnel,
    winIntervalSweep, winZscoreAnomaly, joinPointInInterval,
    winRollingMedian, joinIntervalOverlap, winEwma, aggCohortRetention,
    aggSurvivalKm, joinAsofNearest, winAttribution, aggSeasonalProfile,
    winSkyline, winCumulativeDistinct, winGapsIslands, aggAutocorr, winOhlc,
    winParetoAbc, winMannKendall, winStlDecompose, winGapFillLocf)
}
