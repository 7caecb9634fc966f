package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import H._
import graft.api.Tables

/** SURVEY.md §2.1 sources, §2.2 projection/filter, §2.3 joins, §2.4 aggregation.
  *
  * Every query ends with a total ORDER BY (unique-key tiebreak) and routes
  * floating aggregates through [[H.dsum]] / round(4) — see SURVEY.md §5.4.
  * Scale notes (100 TB): no collect(), dims broadcast explicitly, the theta
  * join is bucketized into an equi-join instead of a BNLJ cross product.
  */
object Relational {

  // ---------------------------------------------------------------- §2.1 sources

  /** Full-row ORDER BY on the row-grain lineitem keys: the synthetic
    * fixture's (l_orderkey, l_linenumber) is NOT unique (1161 duplicate
    * groups at sf0.001 — unlike real TPC-H), and the oracle compare runs
    * in produced order, so a two-column sort leaves cross-engine tie
    * order to both engines' (empirically stable, never guaranteed) sort
    * stability. Ordering by every emitted column makes residual ties
    * value-identical rows — flake-proof by construction (SURVEY §5.4).
    */
  private val liAllCols = Seq("l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  private def liAllColsSql = liAllCols.mkString(", ")

  private val srcParquetScan = Q(
    "src_parquet_scan",
    (s, d) => T.lineitem(s, d).orderBy(liAllCols.map(col): _*),
    Some(s"SELECT * FROM lineitem ORDER BY $liAllColsSql"))

  /** CSV sink + source round-trip with explicit schema (no inferSchema —
    * SURVEY §1.3). Side-effecting (writes the CSV), but the round-trip is
    * LOSSLESS (shortest-roundtrip double formatting, day-precision
    * timestamps), so the oracle is simply the sample itself from the
    * fixture — a hash match proves the sink+source path loses nothing.
    */
  private val srcCsvRoundtrip = Q(
    "src_csv_roundtrip",
    (s, d) => {
      val out = new java.io.File(Llm.shardRoot,
        s"csv_${d.replaceAll("[^A-Za-z0-9]", "_")}").getAbsolutePath
      val sample = T.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      sample.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(sample.schema).option("header", "true").csv(out)
        .orderBy(liAllCols.map(col): _*)
    },
    Some(s"""SELECT * FROM lineitem WHERE l_orderkey % 100 = 0
ORDER BY $liAllColsSql"""))

  /** ORC sink + source round-trip — the second columnar format Spark ships
    * natively (predicate pushdown, column pruning, and vectorized reads all
    * apply, same as parquet). ORC is binary-exact for every lineitem type,
    * so the oracle is the sample itself from the fixture: a hash match
    * proves the sink+source path loses nothing. DuckDB cannot read ORC —
    * the round-trip-identity oracle is exactly how a format outside the
    * oracle engine's reach stays under the cross-engine gate. The output
    * dir lives under the per-JVM reaped scratch root ([[Llm.shardRoot]]):
    * a fixed repo-relative path raced when two JVMs (a bench next to a
    * test suite) wrote the same sf dir concurrently.
    */
  private val srcOrcRoundtrip = Q(
    "src_orc_roundtrip",
    (s, d) => {
      val out = new java.io.File(Llm.shardRoot,
        s"orc_${d.replaceAll("[^A-Za-z0-9]", "_")}").getAbsolutePath
      val sample = T.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      sample.write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(liAllCols.map(col): _*)
    },
    Some(s"""SELECT * FROM lineitem WHERE l_orderkey % 100 = 0
ORDER BY $liAllColsSql"""))

  /** JSON-lines sink + source round-trip (models the FTS REST JSON shape).
    * ts is surfaced as epoch µs so the round-trip is precision-exact; the
    * oracle is the sample from the fixture (lossless round-trip).
    */
  private val srcJsonLines = Q(
    "src_json_lines",
    (s, d) => {
      val out = new java.io.File(Llm.shardRoot,
        s"json_${d.replaceAll("[^A-Za-z0-9]", "_")}").getAbsolutePath
      val sample = T.events(s, d).filter(col("event_id") % 10 === 0)
        .select(col("event_id"), em(col("ts")).as("ts_us"), col("user_id"),
          col("event_type"), col("value"), col("props"))
      sample.write.mode("overwrite").json(out)
      s.read.schema(sample.schema).json(out).orderBy("event_id")
    },
    Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
FROM events WHERE event_id % 10 = 0 ORDER BY event_id"""))

  /** Multi-file scan — union across all three sf partitions of the datalake
    * layout. The oracle reads the same absolute paths via read_parquet.
    */
  private val srcUnionPartitions = Q(
    "src_union_partitions",
    (s, _) => {
      val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
        .map(sf => s"/root/testdata/$sf/region.parquet")
      s.read.parquet(dirs: _*)
        .groupBy("r_regionkey", "r_name").agg(count(lit(1)).as("n_copies"))
        .orderBy("r_regionkey")
    },
    Some("""SELECT r_regionkey, r_name, count(*) AS n_copies
FROM read_parquet(['/root/testdata/sf0.001/region.parquet',
                   '/root/testdata/sf0.01/region.parquet',
                   '/root/testdata/sf0.1/region.parquet'])
GROUP BY r_regionkey, r_name ORDER BY r_regionkey"""))

  // ----------------------------------------------- §2.2 projection / filter

  private val projSelectAlias = Q(
    "proj_select_alias",
    (s, d) => T.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
      (col("l_extendedprice") * col("l_tax")).as("tax_amt"))
      // full emitted-column order: see liAllCols' scaladoc (non-unique key)
      .orderBy("l_orderkey", "l_linenumber", "revenue", "tax_amt"),
    Some("""SELECT l_orderkey, l_linenumber,
l_extendedprice * (1 - l_discount) AS revenue,
l_extendedprice * l_tax AS tax_amt
FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, tax_amt"""))

  /** TPC-H Q6-shaped conjunctive predicate; filters stay on raw columns so
    * parquet pushdown fires (SURVEY §4).
    */
  private val filtConjunctive = Q(
    "filt_conjunctive",
    (s, d) => T.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"),
        (col("l_extendedprice") * col("l_discount")).as("disc_revenue"))
      // full emitted-column order: see liAllCols' scaladoc (non-unique key)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "disc_revenue"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
l_extendedprice * l_discount AS disc_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, disc_revenue"""))

  private val filtInBetweenLike = Q(
    "filt_in_between_like",
    (s, d) => T.part(s, d)
      .filter(col("p_type").isin("PROMO", "STANDARD", "LARGE") &&
        col("p_size").between(10, 40) &&
        col("p_name").like("%ring%"))
      .select("p_partkey", "p_name", "p_type", "p_size")
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_name, p_type, p_size FROM part
WHERE p_type IN ('PROMO','STANDARD','LARGE') AND p_size BETWEEN 10 AND 40
  AND p_name LIKE '%ring%'
ORDER BY p_partkey"""))

  /** Null handling over a derived nullable column (fixtures are null-free). */
  private val filtNullSemantics = Q(
    "filt_null_semantics",
    (s, d) => T.lineitem(s, d)
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("nullif(l_returnflag, 'N')").as("rf"),
        (expr("nullif(l_returnflag, 'N')") <=> lit("R")).as("is_r_nullsafe"),
        expr("nullif(l_returnflag, 'N')").isNull.as("rf_is_null"))
      // (is_r_nullsafe, rf_is_null) jointly determine the nullable rf, so
      // ordering by the two NON-NULL booleans totals the emitted values
      // without tripping the engines' opposite NULL-sort defaults
      .orderBy("l_orderkey", "l_linenumber", "is_r_nullsafe", "rf_is_null"),
    Some("""SELECT l_orderkey, l_linenumber,
nullif(l_returnflag, 'N') AS rf,
(nullif(l_returnflag, 'N') IS NOT DISTINCT FROM 'R') AS is_r_nullsafe,
(nullif(l_returnflag, 'N') IS NULL) AS rf_is_null
FROM lineitem WHERE l_linenumber <= 3
ORDER BY l_orderkey, l_linenumber, is_r_nullsafe, rf_is_null"""))

  /** Correlated scalar subqueries through the spark.sql surface (Catalyst
    * decorrelates them into joins — SURVEY §4). The comparison is kept in
    * exact decimal terms (price × count vs summed prices) so both engines
    * decide every row identically.
    */
  private val filtSubqueryScalar = Q(
    "filt_subquery_scalar",
    (s, d) => {
      T.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders o
        WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
              (SELECT count(*) FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey)
            > (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(12,2)))
               FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
      (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    > (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(12,2)))
       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey"""))

  /** Correlated EXISTS / NOT EXISTS / IN predicates (§2.2 ext) — the other
    * half of the subquery surface next to [[filtSubqueryScalar]]'s scalar
    * form: customers who have at least one big order, have NO fulfilled
    * order, and sit in a region-filtered nation set. Catalyst decorrelates
    * the three predicates into LEFT SEMI (EXISTS, IN) and LEFT ANTI
    * (NOT EXISTS) joins — RelationalSpec pins both shapes in the executed
    * plan, so the key documents that the decorrelation actually happened
    * rather than a per-row re-scan.
    *
    * Scale shape: each subquery becomes one key-partitioned semi/anti
    * join (orders shuffles once per predicate on o_custkey; the nation IN
    * set broadcasts); no correlated re-execution, no cartesian.
    */
  private val filtSubqueryExists = Q(
    "filt_subquery_exists",
    (s, d) => {
      T.orders(s, d).createOrReplaceTempView("v_orders")
      T.customer(s, d).createOrReplaceTempView("v_customer")
      T.nation(s, d).createOrReplaceTempView("v_nation")
      s.sql("""SELECT c_custkey, c_name, c_acctbal
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM v_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
          AND c_nationkey IN (SELECT n_nationkey FROM v_nation
                              WHERE n_regionkey <= 2)
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
ORDER BY c_custkey"""))

  /** LATERAL correlated top-n join (§2.3 ext) — the SQL-standard form of
    * "top 3 customers by balance per nation": a correlated LATERAL
    * subquery with ORDER BY + LIMIT, the idiom an analyst ports from any
    * warehouse. Spark decorrelates the per-row LIMIT into a partitioned
    * rank under the hood (same physical shape as win_rank_topk's window),
    * so declaring it LATERAL costs nothing over the window form — the key
    * exists to pin that the SQL surface works and plans sanely.
    *
    * Ties: (c_acctbal DESC, c_name) is a total order within a nation
    * (names are unique), so the LIMIT-3 cut is deterministic in both
    * engines.
    */
  private val joinLateralTopn = Q(
    "join_lateral_topn",
    (s, d) => {
      T.customer(s, d).createOrReplaceTempView("v_customer")
      T.nation(s, d).createOrReplaceTempView("v_nation")
      s.sql("""SELECT n_name, c_name, c_acctbal
        FROM v_nation, LATERAL (
          SELECT c_name, c_acctbal FROM v_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3)
        ORDER BY n_name, c_acctbal DESC, c_name""")
    },
    Some("""SELECT n_name, c_name, c_acctbal
FROM nation, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3)
ORDER BY n_name, c_acctbal DESC, c_name"""))

  /** Relational division (§2.3 ext) — the textbook FOR-ALL operator the
    * plain join surface can't express directly: customers whose orders
    * cover EVERY priority class present in the table. Implemented the
    * scalable way — a per-customer distinct-priority count compared to
    * the (1-row, broadcast) global class count — never the double-
    * negation anti-join-of-anti-join form, whose inner cross product of
    * customers × classes explodes at scale.
    *
    * Scale shape: one (custkey, priority)-grain distinct agg (map-side
    * partial), one 1-row divisor broadcast, one customer-keyed join for
    * the name. The divisor derives from the data (no hard-coded 5).
    */
  private val joinRelationalDivision = Q(
    "join_relational_division",
    (s, d) => {
      val o = T.orders(s, d)
      val nPrio = o.agg(
        countDistinct(col("o_orderpriority")).as("n_prio"))
      val covered = o.groupBy("o_custkey")
        .agg(countDistinct(col("o_orderpriority")).as("np"),
          count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(nPrio))
        .filter(col("np") === col("n_prio"))
      covered.join(T.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"))
        .orderBy("c_custkey")
    },
    Some("""WITH np AS (SELECT count(DISTINCT o_orderpriority) AS n_prio
  FROM orders),
cov AS (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd,
    count(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT c_custkey, c_name, n_orders
FROM cov JOIN customer ON o_custkey = c_custkey, np
WHERE nd = n_prio
ORDER BY c_custkey"""))

  /** Null-safe equality join (§2.3 ext) — the `<=>` / IS NOT DISTINCT
    * FROM surface: joining on a NULLABLE key where NULL must match NULL
    * (the standard equi-join silently drops those rows — the classic
    * "my join lost rows" bug this key demonstrates the fix for). Both
    * sides NULLIF the same nation id, so the NULL bucket flows through
    * the join as a first-class group and every customer of that nation
    * still reaches its (NULL-keyed) dimension row.
    *
    * Scale shape: a null-safe equi-join IS hash-partitionable (NULL is
    * just one more key value — unlike a theta-join fallback), and the
    * join side with NULLs is the UNIQUE-KEYED dimension, so output stays
    * fact-proportional — the design point: a null-safe join against a
    * non-unique NULL-heavy side degenerates into a NULL×NULL cartesian
    * (measured 82 s at sf0.1 on a 5-value bucket key before this shape).
    */
  private val joinNullSafe = Q(
    "join_null_safe",
    (s, d) => {
      val c = T.customer(s, d).select(col("c_acctbal"),
        expr("nullif(c_nationkey, 3)").as("k"))
      val n = T.nation(s, d).select(col("n_name"),
        expr("nullif(n_nationkey, 3)").as("k2"))
      c.join(broadcast(n), col("k") <=> col("k2"))
        .groupBy(col("n_name"), col("k2").isNull.as("via_null_key"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("n_name")
    },
    Some(s"""WITH c AS (SELECT c_acctbal, nullif(c_nationkey, 3) AS k
  FROM customer),
n AS (SELECT n_name, nullif(n_nationkey, 3) AS k2 FROM nation)
SELECT n_name, k2 IS NULL AS via_null_key, count(*) AS n_customers,
  ${dsumSql("c_acctbal")} AS sum_bal
FROM c JOIN n ON k IS NOT DISTINCT FROM k2
GROUP BY 1, 2 ORDER BY n_name"""))

  /** Boolean aggregate surface (§2.4 ext) — any / every / count_if, the
    * predicate-rollup vocabulary (DuckDB: bool_or / bool_and / FILTER):
    * per order status, does ANY order exceed 400k, do ALL exceed 1k, and
    * how many sit in the mid band. All exact counts and boolean folds —
    * no float discipline needed beyond the [[H.dsum]] total.
    */
  private val aggBool = Q(
    "agg_bool",
    (s, d) => T.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        expr("any(o_totalprice > 400000)").as("any_over_400k"),
        expr("every(o_totalprice > 1000)").as("all_over_1k"),
        expr("count_if(o_totalprice between 100000 and 200000)")
          .as("n_mid_band"),
        dsum(col("o_totalprice")).as("sum_total"))
      .orderBy("o_orderstatus"),
    Some(s"""SELECT o_orderstatus, count(*) AS n,
bool_or(o_totalprice > 400000) AS any_over_400k,
bool_and(o_totalprice > 1000) AS all_over_1k,
count(*) FILTER (WHERE o_totalprice BETWEEN 100000 AND 200000) AS n_mid_band,
${dsumSql("o_totalprice")} AS sum_total
FROM orders GROUP BY 1 ORDER BY o_orderstatus"""))

  private val projDistinct = Q(
    "proj_distinct",
    (s, d) => T.customer(s, d).select("c_mktsegment").distinct()
      .orderBy("c_mktsegment"),
    Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"))

  // ---------------------------------------------------------------- §2.3 joins

  /** Small build side broadcast explicitly — at 100 TB the fact side never
    * shuffles for this join.
    */
  private val joinBroadcastInner = Q(
    "join_broadcast_inner",
    (s, d) => T.orders(s, d)
      .join(broadcast(T.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey"""))

  /** Both sides large → shuffle-on-key sort-merge join (hinted for a
    * deterministic plan shape; asserted in RelationalSpec).
    */
  private val joinSortmergeInner = Q(
    "join_sortmerge_inner",
    (s, d) => T.lineitem(s, d)
      .join(T.orders(s, d).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      // full emitted-column order: see liAllCols' scaladoc (non-unique key)
      .orderBy("l_orderkey", "l_linenumber", "revenue", "o_orderstatus"),
    Some("""SELECT l_orderkey, l_linenumber, o_orderstatus,
l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
ORDER BY l_orderkey, l_linenumber, revenue, o_orderstatus"""))

  /** TPC-H Q5-shaped star join: fact side keeps its partitioning, all dims
    * broadcast, aggregation is partial+final.
    */
  private val joinStarMultiway = Q(
    "join_star_multiway",
    (s, d) => T.lineitem(s, d)
      .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy("r_name")
      .agg(sum(m2(col("l_extendedprice")) * oneMinus(col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name"),
    Some(s"""SELECT r_name,
CAST(sum(${m2Sql("l_extendedprice")} * ${oneMinusSql("l_discount")}) AS DOUBLE) AS revenue,
count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name ORDER BY r_name"""))

  private val joinLeftOuter = Q(
    "join_left_outer",
    (s, d) => T.customer(s, d)
      .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name ORDER BY c_custkey"""))

  /** Full outer over two pre-aggregated sides (aggregate-then-join keeps the
    * shuffle small at scale).
    */
  private val joinFullOuter = Q(
    "join_full_outer",
    (s, d) => {
      val cn = T.customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val sn = T.supplier(s, d).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("c_nationkey") === col("s_nationkey"), "full")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },
    Some("""SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
ON c_nationkey = s_nationkey
ORDER BY nationkey"""))

  private val joinLeftSemi = Q(
    "join_left_semi",
    (s, d) => T.customer(s, d)
      .join(T.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
ORDER BY c_custkey"""))

  private val joinLeftAnti = Q(
    "join_left_anti",
    (s, d) => T.customer(s, d)
      .join(T.orders(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey"""))

  private val joinCross = Q(
    "join_cross",
    (s, d) => T.region(s, d).select("r_name")
      .crossJoin(T.orders(s, d).select("o_orderpriority").distinct())
      .orderBy("r_name", "o_orderpriority"),
    Some("""SELECT r_name, o_orderpriority
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
ORDER BY r_name, o_orderpriority"""))

  /** Band join: same-user event pairs within 10 minutes. Implemented as an
    * equi-join on (user, 10-min bucket) with the probe side exploded into the
    * two candidate buckets, then an exact residual filter — this is the
    * 100 TB-safe shape (hash join, no broadcast-nested-loop O(n²)).
    */
  private val joinThetaRange = Q(
    "join_theta_range",
    (s, d) => {
      val win = 600000000L // 10 min in µs
      val ev = T.events(s, d)
        .select(col("user_id"), col("event_id"), em(col("ts")).as("em"))
      val a = ev.withColumn("jb",
        explode(array(expr(s"em div $win"), expr(s"em div $win + 1"))))
        .select(col("user_id").as("a_user"), col("event_id").as("a_id"),
          col("em").as("a_em"), col("jb"))
      val b = ev.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("em").as("b_em"), expr(s"em div $win").as("bb"))
      a.join(b, col("a_user") === col("b_user") && col("jb") === col("bb"))
        .filter(col("a_em") < col("b_em") && col("b_em") <= col("a_em") + win)
        .select(col("a_user").as("user_id"), col("a_id"), col("b_id"),
          (col("b_em") - col("a_em")).as("gap_us"))
        .orderBy("a_id", "b_id")
    },
    Some("""SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
ON a.user_id = b.user_id
AND epoch_us(a.ts) < epoch_us(b.ts)
AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
ORDER BY a_id, b_id"""))

  /** As-of join: for each 'error' event, the latest same-user 'click' at or
    * before it — thin wrapper over [[graft.api.Fts.asofLastBefore]] (single
    * window pass, no self-join shuffle; scales as one sort per user
    * partition).
    */
  private val joinAsof = Q(
    "join_asof",
    (s, d) => {
      val ev = T.events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), em(col("ts")).as("em"))
      graft.api.Fts.asofLastBefore(ev, Seq("user_id"), Seq("em", "event_id"),
          col("event_type") === "click", Seq("event_id", "em"))
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("click_id"),
          coalesce(col("em") - col("asof_em"), lit(-1L)).as("gap_us"))
        .orderBy("err_id")
    },
    Some("""SELECT user_id, event_id AS err_id,
coalesce(click_id, -1) AS click_id, coalesce(em - click_em, -1) AS gap_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS em,
    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      OVER w AS click_id,
    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      OVER w AS click_em
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
WHERE event_type = 'error'
ORDER BY err_id"""))

  /** Skew-handling join: the probe side is deliberately collapsed onto 3 hot
    * keys (every row lands on one of them — the pathological case), then
    * joined via salting: the build side replicates SALT ways, the probe side
    * picks a deterministic salt, so each hot key spreads over SALT reducers
    * instead of one. The oracle is the UNSALTED join — same result, proving
    * the rewrite is semantics-preserving.
    */
  private val joinSkewSalted = Q(
    "join_skew_salted",
    (s, d) => {
      val salt = 16
      val fact = T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_orderkey") % 3).as("hot_key"),
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salt.toLong))
            .as("salt"))
      val dim = T.region(s, d)
        .select((col("r_regionkey") % 3).as("hot_key"), col("r_name"))
        .filter(col("hot_key") < 3)
        .crossJoin(s.range(salt).select(col("id").as("salt")))
      fact.join(dim, Seq("hot_key", "salt"))
        .groupBy("hot_key", "r_name")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("hot_key", "r_name")
    },
    Some(s"""SELECT l_orderkey % 3 AS hot_key, r_name,
count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
FROM lineitem JOIN (SELECT r_regionkey % 3 AS k, r_name FROM region WHERE r_regionkey % 3 < 3) r
ON l_orderkey % 3 = r.k
GROUP BY 1, 2 ORDER BY hot_key, r_name"""))

  /** The GENERIC form of [[joinSkewSalted]] (§2.3 ext): where that key
    * salts a known hot key inline with a fixed salt grid, this one hands an
    * arbitrary skewed equi-join to [[graft.api.Skew.saltedJoin]] — detect
    * hot keys by count threshold, salt ONLY those (cold keys ride salt 0
    * untouched, hot right rows replicate salts×) — the production shape
    * where the hot set isn't known until the data arrives. Fixture: a
    * planted 70/30 key over lineitem (~70 % of rows on hk=0) joined to a
    * nation-derived dim with per-key fan-out. The oracle is the UNSALTED
    * join — the rewrite must be invisible in the result, for ANY outcome
    * of the hot-key detection (the threshold is a performance knob, not a
    * correctness input; ApiSpec pins the per-reducer spread on a planted
    * frame).
    */
  private val joinSkewSaltedGeneric = Q(
    "join_skew_salted_generic",
    (s, d) => {
      val fact = T.lineitem(s, d).select(
        when(col("l_orderkey") % 10 < 7, lit(0L))
          .otherwise(col("l_orderkey") % 10).as("hk"),
        col("l_quantity"))
      val dim = T.nation(s, d)
        .select((col("n_nationkey") % 10).as("hk"), col("n_name"))
      graft.api.Skew.saltedJoin(fact, dim, "hk", salts = 8, hotThreshold = 1000L)
        .groupBy("hk", "n_name")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("hk", "n_name")
    },
    Some(s"""SELECT f.hk AS hk, n_name, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
FROM (SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 10 END AS hk,
        l_quantity FROM lineitem) f
JOIN (SELECT n_nationkey % 10 AS hk, n_name FROM nation) d ON f.hk = d.hk
GROUP BY 1, 2 ORDER BY hk, n_name"""))

  /** Bloom-prefiltered fact⋈dim join (§2.3 ext) — the runtime-filter shape
    * made explicit via [[graft.api.Skew.bloomPrefilterJoin]]: one brand's
    * parts (a ~4 % dim slice) joined to lineitem, with the FACT side
    * pruned at scan time by a Bloom bit array built over the dim keys
    * before any shuffle. False positives die in the exact join that
    * follows; false negatives don't exist — the oracle IS the plain join
    * (the rewrite must be invisible in the result, like the salted
    * rewrites). Per-type revenue rollup over the surviving rows, all
    * exact decimal-factor arithmetic.
    *
    * Scale shape: the bloom broadcast is ~10 bits/dim-key regardless of
    * dim row width; the join shuffle carries ~|matching fact rows|
    * (+fpp·|fact|) instead of |fact| — the difference between shuffling
    * 4 % and 100 % of a 100 TB fact table. PlanSpec asserts the
    * bloom_probe filter sits on the fact scan side under codegen.
    */
  private val joinBloomPrefilter = Q(
    "join_bloom_prefilter",
    (s, d) => {
      val dim = T.part(s, d).filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey"), col("p_type"))
      graft.api.Skew.bloomPrefilterJoin(
          T.lineitem(s, d), "l_partkey", dim, "p_partkey")
        .groupBy("p_type")
        .agg(count(lit(1)).as("n"),
          sum(m2(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast("double").as("revenue"))
        .orderBy("p_type")
    },
    Some(s"""SELECT p_type, count(*) AS n,
CAST(sum(${m2Sql("l_extendedprice")} * ${oneMinusSql("l_discount")}) AS DOUBLE) AS revenue
FROM lineitem JOIN (SELECT p_partkey, p_type FROM part WHERE p_brand = 'Brand#13') p
ON l_partkey = p_partkey
GROUP BY 1 ORDER BY p_type"""))

  /** Partitioned-datalake layout: write events partitioned by event_type,
    * read back with a partition filter — partition pruning (not row
    * filtering) must eliminate the other partitions; asserted in PlanSpec.
    * Side-effecting (writes the layout), but the pruned read must reproduce
    * the direct filtered aggregate — which is the oracle.
    */
  private val srcPartitionedScan = Q(
    "src_partitioned_scan",
    (s, d) => {
      val out = new java.io.File(Llm.shardRoot,
        s"part_${d.replaceAll("[^A-Za-z0-9]", "_")}").getAbsolutePath
      T.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .filter(col("event_type") === "error")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
FROM events WHERE event_type = 'error'
GROUP BY event_type ORDER BY event_type"""))

  /** Co-located join via bucketing: lineitem and orders both bucketed 8 ways
    * on the join key — the join then runs WITHOUT a shuffle exchange on
    * either side (asserted in PlanSpec). At 100 TB this is the difference
    * between re-shuffling the fact table per query and reading it
    * pre-partitioned. Side-effecting (writes bucketed tables) → no oracle.
    *
    * The bucketed tables are session artifacts REWRITTEN on every build
    * ([[graft.api.Tables.rederive]]) — deliberately: a write guarded by
    * catalog existence lands the setup cost in exactly one of a
    * benchmark's repeated runs, making that run's time mean something
    * different from the others'. Paying it every run keeps cold and median
    * the same measurement; the production shape (write once, join many) is
    * the PlanSpec-pinned exchange-free join, not this harness entry's
    * write.
    */
  private val joinBucketed = Q(
    "join_bucketed",
    (s, d) => {
      def bucketed(key: String)(df: DataFrame, table: String): Unit =
        df.write.mode("overwrite").format("parquet")
          .bucketBy(8, key).sortBy(key).saveAsTable(table)
      val li = Tables.artifactName("bkt_lineitem", d)
      val ord = Tables.artifactName("bkt_orders", d)
      val (l, o) = Tables.rederive(s, li, ord) {
        (Tables.tableOrDerive(s, li, bucketed("l_orderkey")) {
          T.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity")
        }, Tables.tableOrDerive(s, ord, bucketed("o_orderkey")) {
          T.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        })
      }
      // merge hint: at tiny sf the planner would broadcast instead; the
      // point here is the shuffle-free bucketed sort-merge join
      l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    // the bucketed tables are copies of the fixtures, so the co-located
    // join must reproduce the direct join aggregate
    Some(s"""SELECT o_orderstatus, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Generic approximate string join — [[graft.api.Fuzzy.levenshteinJoin]]
    * exercised as dirty→clean reconciliation: a "dirty" side derives from
    * `part` by a DETERMINISTIC planted typo (the character at position
    * `5 + p_partkey % 5` replaced with '#', always past the 4-char block
    * prefix and always a real edit — p_name has no '#'), then fuzzy-joins
    * back to the clean side at edit distance ≤ 1 and keeps each dirty
    * row's BEST match (min dist, min id — the top-1 entity-resolution
    * shape). Every dirty row recovers its own name at dist 1, so the
    * output is exactly one row per part.
    *
    * Scale shape (the api scaladoc's contract): the clean side first
    * dedupes to DISTINCT names (the fixture's p_name vocabulary is 64
    * names over 2000–20000 parts — matching against rows instead of names
    * would square inside every name-equivalence class; deduping the
    * reference before fuzzy matching is the production pattern), then ONE
    * equi-join on the 4-char prefix block with the exact length band
    * riding the same exchange, Spark's THRESHOLDED banded
    * `levenshtein(a, b, 1)` verifier inside blocks only — never an
    * all-pairs theta join — and a `min(struct(dist, id))` argmin
    * aggregate (map-side combinable) for the top-1 pick.
    */
  private val joinFuzzy = Q(
    "join_fuzzy",
    (s, d) => {
      val dirty = T.part(s, d).select(col("p_partkey").as("d_id"),
        expr("concat(substring(p_name, 1, cast(4 + p_partkey % 5 as int)), '#', " +
          "substring(p_name, cast(6 + p_partkey % 5 as int)))").as("d_name"))
      val cleanNames = T.part(s, d).groupBy(col("p_name").as("c_name"))
        .agg(min(col("p_partkey")).as("c_id"))
      graft.api.Fuzzy.levenshteinJoin(dirty, "d_id", "d_name",
          cleanNames, "c_id", "c_name", maxDist = 1, blockLen = 4)
        .groupBy(col("a_id").as("d_id"))
        .agg(min(struct(col("dist"), col("b_id"))).as("m"))
        .select(col("d_id"), col("m.b_id").as("c_id"), col("m.dist").as("dist"))
        .orderBy("d_id")
    },
    Some("""WITH dirty AS (SELECT p_partkey AS d_id,
    substr(p_name, 1, CAST(4 + p_partkey % 5 AS INT)) || '#' ||
      substr(p_name, CAST(6 + p_partkey % 5 AS INT)) AS d_name FROM part),
cn AS (SELECT p_name AS c_name, min(p_partkey) AS c_id FROM part GROUP BY 1),
cand AS (SELECT d_id, c_id, levenshtein(d_name, c_name) AS dist
  FROM dirty JOIN cn
    ON substr(d_name, 1, 4) = substr(c_name, 1, 4)
    AND abs(length(d_name) - length(c_name)) <= 1
  WHERE levenshtein(d_name, c_name) <= 1)
SELECT d_id, c_id, dist FROM (
  SELECT d_id, c_id, dist,
    row_number() OVER (PARTITION BY d_id ORDER BY dist ASC, c_id ASC) AS rn
  FROM cand) WHERE rn = 1
ORDER BY d_id"""))

  /** Ingest-time data-quality profiling — the per-column (rows, nulls,
    * distincts) report a datalake runs on every new partition before
    * admitting it. One aggregate pass over the table (all column stats
    * partial-aggregated map-side in one job), then a literal `stack` unpivot
    * to one row per column — no per-column scans.
    */
  private val srcProfile = {
    val cols = Seq("event_id", "event_type", "props", "user_id", "value")
    Q(
      "src_profile",
      (s, d) => {
        val aggs = cols.flatMap(c => Seq(
          count(col(c)).as(s"${c}_nn"), countDistinct(col(c)).as(s"${c}_nd")))
        T.events(s, d)
          .agg(count(lit(1)).as("n_rows"), aggs: _*)
          .select(col("n_rows"), expr(
            s"stack(${cols.size}, " +
              cols.map(c => s"'$c', ${c}_nn, ${c}_nd").mkString(", ") +
              ") as (col_name, n_not_null, n_distinct)"))
          .select(col("col_name"), col("n_rows"),
            (col("n_rows") - col("n_not_null")).as("n_null"),
            col("n_not_null"), col("n_distinct"))
          .orderBy("col_name")
      },
      Some(cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
count(*) - count($c) AS n_null, count($c) AS n_not_null,
count(DISTINCT $c) AS n_distinct FROM events""")
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")))
  }

  // ----------------------------------------------------------- §2.4 aggregation

  private val aggGlobal = Q(
    "agg_global",
    (s, d) => T.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      dsum(col("l_quantity")).as("sum_qty"),
      dsum(col("l_extendedprice")).as("sum_price"),
      avg(col("l_quantity")).as("avg_qty"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty")),
    Some(s"""SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders,
${dsumSql("l_quantity")} AS sum_qty, ${dsumSql("l_extendedprice")} AS sum_price,
avg(l_quantity) AS avg_qty,
min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
FROM lineitem"""))

  /** TPC-H Q1 — the flagship (SparkEntry.entry). */
  private val aggGroupbyHash = Q(
    "agg_groupby_hash",
    (s, d) => T.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(m2(col("l_extendedprice")) * oneMinus(col("l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(m2(col("l_extendedprice")) * oneMinus(col("l_discount")) * onePlus(col("l_tax")))
          .cast("double").as("sum_charge"),
        avg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some(s"""SELECT l_returnflag, l_linestatus,
${dsumSql("l_quantity")} AS sum_qty,
${dsumSql("l_extendedprice")} AS sum_base_price,
CAST(sum(${m2Sql("l_extendedprice")} * ${oneMinusSql("l_discount")}) AS DOUBLE) AS sum_disc_price,
CAST(sum(${m2Sql("l_extendedprice")} * ${oneMinusSql("l_discount")} * ${onePlusSql("l_tax")}) AS DOUBLE) AS sum_charge,
avg(l_quantity) AS avg_qty,
${davgSql("l_extendedprice")} AS avg_price,
${davgSql("l_discount")} AS avg_disc,
count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""))

  /** The core FTS metric: per-link (here per-user) totals, failure counts and
    * success ratio — thin wrapper over [[graft.api.Fts.successRate]].
    */
  private val aggSuccessRate = Q(
    "agg_success_rate",
    (s, d) => graft.api.Fts.successRate(T.events(s, d), Seq("user_id"),
        col("event_type") === "error")
      .orderBy("user_id"),
    Some("""SELECT user_id, count(*) AS n_events,
count(*) FILTER (WHERE event_type = 'error') AS n_errors,
count(*) FILTER (WHERE event_type = 'error') / count(*) AS error_rate,
1 - count(*) FILTER (WHERE event_type = 'error') / count(*) AS success_rate
FROM events GROUP BY user_id ORDER BY user_id"""))

  /** A/B TEST ANALYSIS (§2.4 ext) — the two-proportion z-test an
    * experimentation platform runs per metric: users deterministically
    * split 50/50 by the first md5 nibble of user_id (the same
    * engine-portable hash family as llm_hash_split — assignment is a pure
    * function of the id, reproducible across engines and reruns), the
    * metric is the event-level error rate, and the test statistic is
    * `z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))` with the pooled p̂.
    * One row: counts, rates, z, and the |z| ≥ 1.96 two-sided flag.
    *
    * Float discipline — z emits RAW despite crossing zero: every input is
    * an exact long; the divisions/products are spelled in identical
    * operand order; and `sqrt` is NOT libm-divergent — IEEE 754 requires
    * correct rounding for sqrt (unlike exp/ln/pow), so both engines agree
    * on every bit of z. If p_a = p_b exactly, IEEE x−x = +0.0, so the
    * zero never arrives signed. The flag thresholds the exact z. Oracle
    * literals CAST AS DOUBLE (the DECIMAL-literal hazard).
    *
    * Scale shape: one 2-group map-side-combinable aggregate over a
    * per-row hash — the 100 TB experiment readout is exactly this shape
    * (no per-user state, no join; a per-user metric would add one
    * user-grain pre-aggregate like agg_cohort_retention's).
    */
  private val aggAbTest = Q(
    "agg_ab_test",
    (s, d) => {
      val nib = expr(
        "instr('0123456789abcdef', substring(md5(cast(user_id as string)), 1, 1)) - 1")
      val g = T.events(s, d)
        .withColumn("variant", when(nib < 8, "A").otherwise("B"))
        .groupBy("variant")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("x"))
      val w = g.groupBy()
        .agg(
          sum(when(col("variant") === "A", col("n"))).as("n_a"),
          sum(when(col("variant") === "B", col("n"))).as("n_b"),
          sum(when(col("variant") === "A", col("x"))).as("x_a"),
          sum(when(col("variant") === "B", col("x"))).as("x_b"))
      val pa = col("x_a").cast("double") / col("n_a")
      val pb = col("x_b").cast("double") / col("n_b")
      val pp = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b"))
      val se = sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      w.select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
        pa.as("p_a"), pb.as("p_b"),
        ((pa - pb) / se).as("z"),
        (abs((pa - pb) / se) >= 1.96).as("significant"))
    },
    Some("""WITH g AS (SELECT
    CASE WHEN strpos('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
         THEN 'A' ELSE 'B' END AS variant,
    count(*) AS n,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS x
  FROM events GROUP BY 1),
w AS (SELECT
    CAST(sum(CASE WHEN variant = 'A' THEN n END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN variant = 'B' THEN n END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN variant = 'A' THEN x END) AS BIGINT) AS x_a,
    CAST(sum(CASE WHEN variant = 'B' THEN x END) AS BIGINT) AS x_b
  FROM g),
c AS (SELECT n_a, n_b, x_a, x_b,
    CAST(x_a AS DOUBLE) / n_a AS p_a,
    CAST(x_b AS DOUBLE) / n_b AS p_b,
    CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp
  FROM w)
SELECT n_a, n_b, x_a, x_b, p_a, p_b,
  (p_a - p_b) / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
    * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)) AS z,
  abs((p_a - p_b) / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
    * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)))
    >= CAST(1.96 AS DOUBLE) AS significant
FROM c"""))

  private val aggCountDistinct = Q(
    "agg_count_distinct",
    (s, d) => T.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("event_type"),
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type"""))

  /** EXACT distinct via SEGMENT BITMAPS (§2.4 ext, r12) — the third point
    * on the distinct-count spectrum: [[aggCountDistinct]] is exact but
    * shuffles every (group, user) pair; [[aggApproxDistinct]] is mergeable
    * but ±2 %; this is BOTH exact and mergeable — Spark 3.5+'s bitmap
    * aggregate family (`bitmap_bit_position` / `bitmap_bucket_number` /
    * `bitmap_construct_agg` / `bitmap_count`), the engine-native form of
    * the roaring-bitmap distinct pattern warehouse dashboards run: ids
    * fold into ≤4 KB bitmap SEGMENTS of 32768 positions per (group,
    * bucket), segments OR-merge map-side (a partial aggregate carries one
    * bitmap per open group×bucket, never raw ids), and the distinct count
    * is the exact Σ popcount over a group's segments. Emits (event_type,
    * n_users, n_segments) — the segment count beside the answer shows the
    * state bound a capacity planner needs.
    *
    * Oracled by semantic equivalence: exact distinct == DuckDB's
    * `count(DISTINCT)` — the same different-algorithm/same-answer gate
    * the CC keys use (bitmaps themselves are engine-private bytes; the
    * COUNT is the contract). All-integer output, no float discipline.
    *
    * Scale shape: one hash agg at (group, bucket) grain whose partial
    * state is bitmap segments (bounded by id-range/32k per group, not by
    * row count), then a group-grain popcount rollup. A 10⁹-user group
    * costs ~30k segments × 4 KB spread over the cluster — vs 10⁹ shuffled
    * rows for the expand-distinct plan.
    */
  private val aggBitmapDistinct = Q(
    "agg_bitmap_distinct",
    (s, d) => T.events(s, d)
      // the bitmap functions' id domain is 1-based ((v−1) % 32768 would
      // put id 0 at position −1) — shift once; distinct counts are
      // shift-invariant
      .withColumn("uid1", col("user_id") + 1)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(uid1)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(uid1))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"),
        count(lit(1)).as("n_segments"))
      .orderBy("event_type"),
    Some("""WITH seg AS (SELECT event_type,
    CAST(floor(user_id / 32768.0) AS BIGINT) AS bkt,
    count(DISTINCT user_id) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, CAST(sum(n) AS BIGINT) AS n_users,
  count(*) AS n_segments
FROM seg GROUP BY event_type ORDER BY event_type"""))

  /** HLL sketches differ across engines → declared-only; accuracy vs exact is
    * unit-tested instead (±5%).
    */
  private val aggApproxDistinct = Q(
    "agg_approx_distinct",
    (s, d) => T.events(s, d)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy("day"),
    None)

  /** Mergeable HLL sketches (§2.4 ext) — the 100 TB production distinct
    * shape [[aggApproxDistinct]]'s one-shot query doesn't exercise:
    * sketch per DAY (`hll_sketch_agg`, the daily-sketch table a real
    * pipeline stores), then answer the cross-day question by UNIONING the
    * stored sketches (`hll_union_agg` → `hll_sketch_estimate`) — the
    * corpus is scanned once ever; every later report is sketch-only.
    * Delegates to [[graft.api.Sketches.hllMergeEstimate]].
    *
    * Declared-only BY DESIGN: the estimate comes out of DataSketches HLL
    * registers DuckDB cannot reproduce. It is deterministic (HLL register
    * updates and unions are per-register MAX — insertion- and merge-order
    * independent), so GoldenSpec pins the exact value; ApiSpec pins the
    * merge ASSOCIATIVITY (union-of-day-sketches == one global sketch,
    * and a different sharding gives the identical estimate) plus the ±5%
    * accuracy envelope; and [[aggHllMergeExact]] is the oracled companion
    * computing the exact value this key approximates.
    */
  private val aggHllMerge = Q(
    "agg_hll_merge",
    (s, d) => graft.api.Sketches.hllMergeEstimate(
        T.events(s, d).withColumn("day", to_date(date_trunc("day", col("ts")))),
        col("day"), Seq("event_type"), "user_id", lgK = 12)
      .withColumnRenamed("approx_distinct", "approx_users")
      .orderBy("event_type"),
    None)

  /** The exact re-aggregation twin of [[aggHllMerge]] — and the metric that
    * justifies storing sketches at all: `sum_daily_users` (what summing the
    * per-day distinct counts would claim) vs `n_users_exact` (the true
    * cross-day distinct), whose ratio `overlap_factor` is the double-count
    * factor naive shard-sum reporting commits. Exactly SQL-expressible →
    * the oracled gate of the sketch family.
    *
    * Scale shape: daily grain first (one hash agg), then the user-grain
    * distinct for the exact cross-day count — the expensive path the HLL
    * key exists to avoid, run here at fixture scale as the oracle.
    * `overlap_factor` is an integer ratio → one identical IEEE division,
    * emitted RAW.
    */
  private val aggHllMergeExact = Q(
    "agg_hll_merge_exact",
    (s, d) => {
      val ev = T.events(s, d).select(col("event_type"), col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      val daily = ev.groupBy("event_type", "day")
        .agg(countDistinct(col("user_id")).as("du"))
      val shard = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("du")).as("sum_daily_users"))
      val exact = ev.select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("n_users_exact"))
      shard.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("sum_daily_users"),
          col("n_users_exact"),
          (col("sum_daily_users").cast("double") / col("n_users_exact"))
            .as("overlap_factor"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
  SELECT event_type, user_id, date_trunc('day', ts) AS day FROM events),
daily AS (SELECT event_type, day, count(DISTINCT user_id) AS du
          FROM ev GROUP BY 1, 2),
shard AS (SELECT event_type, count(*) AS n_days,
            CAST(sum(du) AS BIGINT) AS sum_daily_users
          FROM daily GROUP BY 1),
ex AS (SELECT event_type, count(*) AS n_users_exact
       FROM (SELECT DISTINCT event_type, user_id FROM ev) GROUP BY 1)
SELECT s.event_type AS event_type, n_days, sum_daily_users, n_users_exact,
CAST(sum_daily_users AS DOUBLE) / n_users_exact AS overlap_factor
FROM shard s JOIN ex e ON s.event_type = e.event_type
ORDER BY event_type"""))

  /** Mergeable QUANTILE sketch (§2.4 ext) — the percentile counterpart of
    * [[aggHllMerge]], built so the merge itself runs under the DuckDB
    * gate: per-day fixed-grid histogram bin counts (the sketch a daily
    * stats table stores), counts summed across days (integer addition —
    * associative, merge-order-free, unlike KLL/GK partials), then
    * p50/p90/p99 read off the merged histogram by linear interpolation
    * inside the crossing bin. 256 bins bound the rank error by the
    * largest bin's row share; ApiSpec pins merged == direct-global bin
    * counts and the ±1-percentile-rank envelope vs exact. Delegates to
    * [[graft.api.Sketches.histQuantiles]].
    *
    * Scale shape: one corpus pass for bounds (in production: the shard
    * stats table), one binning pass with map-side combine; everything
    * after is BIN-grain (shards × 256 rows). The cumulative window runs
    * over 256 rows — corpus-size-free.
    */
  /** Sketch-only distinct INTERSECTION (§2.4 ext) — the audience-overlap
    * question ("how many users did BOTH A and B") answered from the same
    * stored per-set sketches as [[aggHllMerge]], by inclusion–exclusion
    * over pairwise `hll_union`: no re-scan, no user-grain pair join.
    * Delegates to [[graft.api.Sketches.hllIntersectEstimate]]; emits the
    * union estimate on every row because the absolute error scales with
    * |A∪B| (the builder scaladoc's error-bar contract).
    *
    * Declared-only BY DESIGN (DataSketches registers; deterministic →
    * golden-pinned); ApiSpec pins a 5%-of-union accuracy envelope against
    * the exact intersections, and [[aggHllIntersectExact]] is the oracled
    * companion computing the numbers this key approximates.
    */
  private val aggHllIntersect = Q(
    "agg_hll_intersect",
    (s, d) => graft.api.Sketches.hllIntersectEstimate(
        T.events(s, d), "event_type", "user_id", lgK = 12)
      .orderBy("set_a", "set_b"),
    None)

  /** The exact oracled twin of [[aggHllIntersect]]: pairwise
    * |users(A) ∩ users(B)| over distinct (type, user) memberships plus
    * the exact Jaccard — the cross-audience overlap matrix (the
    * source-overlap discipline of llm_source_overlap, here at USER
    * grain). `jaccard` is an exact-long IEEE ratio → RAW.
    *
    * Scale shape: membership collapses to (set, user) grain first; the
    * pair join is USER-KEYED with per-user fan-out bounded by C(k, 2)
    * where k = sets a user touches (≤ 5 here — bounded category
    * cardinality, the agg_chi2 contract); set sizes re-attach SET-keyed
    * (5 rows — broadcasts). Never a set×set×user blowup.
    */
  private val aggHllIntersectExact = Q(
    "agg_hll_intersect_exact",
    (s, d) => {
      val m = T.events(s, d).select(col("event_type"), col("user_id")).distinct()
      val sz = m.groupBy("event_type").agg(count(lit(1)).as("n"))
      val pr = m.as("a").join(m.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("set_a"),
          col("b.event_type").as("set_b"))
        .agg(count(lit(1)).as("n_common"))
      pr.join(sz.select(col("event_type").as("set_a"), col("n").as("n_a")), "set_a")
        .join(sz.select(col("event_type").as("set_b"), col("n").as("n_b")), "set_b")
        .select(col("set_a"), col("set_b"), col("n_a"), col("n_b"),
          col("n_common"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
        .orderBy("set_a", "set_b")
    },
    Some("""WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
sz AS (SELECT event_type, count(*) AS n FROM m GROUP BY 1),
pr AS (SELECT a.event_type AS set_a, b.event_type AS set_b, count(*) AS n_common
  FROM m a JOIN m b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT set_a, set_b, sa.n AS n_a, sb.n AS n_b, n_common,
CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM pr JOIN sz sa ON pr.set_a = sa.event_type
JOIN sz sb ON pr.set_b = sb.event_type
ORDER BY set_a, set_b"""))

  private val aggHistQuantileMerge = Q(
    "agg_hist_quantile_merge",
    (s, d) => graft.api.Sketches.histQuantiles(
      T.events(s, d).withColumn("day", to_date(date_trunc("day", col("ts")))),
      "value", col("day"), bins = 256, qs = Seq(0.5, 0.9, 0.99)),
    Some("""WITH v AS (SELECT value AS v, date_trunc('day', ts) AS shard
  FROM events WHERE value IS NOT NULL),
b AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM v),
binned AS (SELECT shard,
    CASE WHEN hi = lo THEN 0
         ELSE CAST(least(floor((v - lo) / (hi - lo) * 256), 255) AS BIGINT)
    END AS bin
  FROM v, b),
per_shard AS (SELECT shard, bin, count(*) AS c FROM binned GROUP BY 1, 2),
merged AS (SELECT bin, CAST(sum(c) AS BIGINT) AS c FROM per_shard GROUP BY 1),
cum AS (SELECT bin, c,
    CAST(sum(c) OVER (ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM merged),
qr AS (SELECT q, bin, c, cum, cum - c AS cb, lo, hi, n,
    row_number() OVER (PARTITION BY q ORDER BY bin) AS rn
  FROM cum, b, (SELECT unnest([0.5, 0.9, 0.99]) AS q)
  WHERE cum >= q * n)
SELECT q, lo + (hi - lo) / 256 * (CAST(bin AS DOUBLE) + (q * n - cb) / c) AS est,
n AS n_rows
FROM qr WHERE rn = 1 ORDER BY q"""))

  private val aggGroupingSets = Q(
    "agg_grouping_sets",
    (s, d) => T.events(s, d)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("user_bucket")), Seq()),
        col("event_type"), col("user_bucket"))
      .agg(grouping(col("event_type")).as("g_type"),
        grouping(col("user_bucket")).as("g_bucket"),
        count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("g_type"), col("g_bucket"),
        coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("user_bucket").cast("string"), lit("(all)")).as("user_bucket"),
        col("n"), col("sum_value"))
      .orderBy("g_type", "g_bucket", "event_type", "user_bucket"),
    Some(s"""SELECT GROUPING(event_type) AS g_type, GROUPING(user_bucket) AS g_bucket,
coalesce(event_type, '(all)') AS event_type,
coalesce(CAST(user_bucket AS VARCHAR), '(all)') AS user_bucket,
count(*) AS n, ${dsumSql("value")} AS sum_value
FROM (SELECT *, CAST(user_id % 10 AS INTEGER) AS user_bucket FROM events)
GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
ORDER BY g_type, g_bucket, event_type, user_bucket"""))

  /** ROLLUP via the spark.sql entry point (the DataFrame rollup-after-join
    * form trips Spark 4's ambiguous-self-join detector on the grouping
    * columns; SQL resolution is immune and exercises the SQL surface).
    */
  private val aggRollup = Q(
    "agg_rollup",
    (s, d) => {
      T.customer(s, d).createOrReplaceTempView("v_customer")
      T.nation(s, d).createOrReplaceTempView("v_nation")
      T.region(s, d).createOrReplaceTempView("v_region")
      s.sql(s"""SELECT coalesce(r_name, '(all)') AS r_name,
        coalesce(n_name, '(all)') AS n_name,
        count(*) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
        FROM v_customer JOIN v_nation ON c_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name, n_name""")
    },
    Some(s"""SELECT coalesce(r_name, '(all)') AS r_name, coalesce(n_name, '(all)') AS n_name,
count(*) AS n_cust, ${dsumSql("c_acctbal")} AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name, n_name"""))

  private val aggCube = Q(
    "agg_cube",
    (s, d) => T.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n"), col("sum_price"))
      .orderBy("o_orderstatus", "o_orderpriority"),
    Some(s"""SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
coalesce(o_orderpriority, '(all)') AS o_orderpriority,
count(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority"""))

  /** Post-aggregation filter with a scale-free threshold: keep segments with
    * above-average customer counts (works at every sf, unlike a constant).
    */
  private val aggHaving = Q(
    "agg_having",
    (s, d) => {
      val g = T.customer(s, d).groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), davg(col("c_acctbal")).as("avg_acctbal"))
        .withColumn("avg_n", avg(col("n_cust")).over(Window.partitionBy()))
      g.filter(col("n_cust") > col("avg_n"))
        .select("c_mktsegment", "n_cust", "avg_acctbal")
        .orderBy("c_mktsegment")
    },
    Some(s"""SELECT c_mktsegment, n_cust, avg_acctbal FROM (
  SELECT c_mktsegment, count(*) AS n_cust, ${davgSql("c_acctbal")} AS avg_acctbal,
         avg(count(*)) OVER () AS avg_n
  FROM customer GROUP BY c_mktsegment)
WHERE n_cust > avg_n ORDER BY c_mktsegment"""))

  /** Exact latency-style percentiles (FTS per-link latency reporting). */
  private val aggPercentiles = Q(
    "agg_percentiles",
    (s, d) => T.events(s, d).groupBy("event_type")
      .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        r4(element_at(col("ps"), 1)).as("p50"),
        r4(element_at(col("ps"), 2)).as("p90"),
        r4(element_at(col("ps"), 3)).as("p99"),
        col("n"))
      .orderBy("event_type"),
    Some("""SELECT event_type,
round(quantile_cont(value, 0.5), 4) AS p50,
round(quantile_cont(value, 0.9), 4) AS p90,
round(quantile_cont(value, 0.99), 4) AS p99,
count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Approximate percentiles — the 100 TB twin of [[aggPercentiles]]: exact
    * `percentile` fully sorts every group's values (all rows shuffle to the
    * group's reducer and materialize), which does not survive a 100 TB
    * latency report. `approx_percentile` keeps a bounded KLL-style sketch
    * per group (mergeable partial aggregate, map-side combined), so memory
    * is O(accuracy), not O(rows). accuracy=10000 bounds the rank error to
    * ~0.01% of each group — tested against exact in RelationalSpec.
    * Declared-only: sketch contents are engine-specific by construction.
    */
  private val aggApproxPercentiles = Q(
    "agg_approx_percentiles",
    (s, d) => T.events(s, d).groupBy("event_type")
      .agg(expr("approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)").as("ps"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        element_at(col("ps"), 1).as("p50"),
        element_at(col("ps"), 2).as("p90"),
        element_at(col("ps"), 3).as("p99"),
        col("n"))
      .orderBy("event_type"),
    None)

  /** Robust anomaly detection — flag events whose value sits > 3.5 robust
    * z-scores from its type's median (MAD-based, the estimator monitoring
    * pipelines use because mean/stddev are themselves dragged by the
    * outliers being hunted). Two tiny per-type aggregates (median, then
    * median absolute deviation) broadcast back onto the fact — the fact
    * table never shuffles, so the plan is two broadcast joins + one codegen
    * filter at any corpus size. Median/MAD are r4-rounded (percentile
    * interpolation is path-divergent between engines, SURVEY §5.4); every
    * downstream comparison then runs identical IEEE ops on identical bits.
    */
  private val aggMadOutliers = Q(
    "agg_mad_outliers",
    (s, d) => {
      val e = T.events(s, d).select(col("event_id"), col("event_type"),
        col("value"))
      val med = e.groupBy("event_type")
        .agg(r4(expr("percentile(value, 0.5D)")).as("med"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(r4(expr("percentile(adev, 0.5D)")).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("adev") > lit(3.5) * lit(1.4826) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"), col("med"),
          col("mad"), (col("adev") / (lit(1.4826) * col("mad"))).as("robust_z"))
        .orderBy("event_id")
    },
    Some("""WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
  FROM events GROUP BY event_type),
dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
          abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        FROM dev GROUP BY event_type)
SELECT d.event_id, d.event_type, d.value, d.med, ma.mad,
d.adev / (1.4826 * ma.mad) AS robust_z
FROM dev d JOIN mad ma USING (event_type)
WHERE d.adev > 3.5 * 1.4826 * ma.mad
ORDER BY d.event_id"""))

  /** Heavy hitters via a mergeable frequent-items sketch
    * (`approx_top_k`, DataSketches ItemsSketch under the hood): the scale
    * path for "top talkers" reports — each partition keeps a bounded sketch,
    * partials merge associatively, nothing proportional to cardinality
    * shuffles. Oracled EXACTLY: with maxItemsTracked (100) above the true
    * key cardinality the sketch provably never evicts, so every estimate
    * equals the exact count — the same guarantee a 100 TB run gets whenever
    * the tracked-item budget exceeds the hot-key count. Output re-sorted by
    * item so the comparison is independent of the sketch's tie order.
    */
  private val aggApproxTopk = Q(
    "agg_approx_topk",
    (s, d) => T.events(s, d)
      .agg(expr("approx_top_k(event_type, 10, 100)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("n"))
      .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type"""))

  /** sd/var are strictly positive → plain r4; corr and covar CROSS ZERO in
    * general (the fixture's are large-positive, but the key's contract
    * isn't fixture-bound) → [[H.r4z]]/`r4zSql` per the signed-zero audit.
    */
  private val aggStats = Q(
    "agg_stats",
    (s, d) => T.lineitem(s, d).groupBy("l_returnflag")
      .agg(r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        H.r4z(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        H.r4z(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_qty_price"))
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag,
round(stddev_samp(l_quantity), 4) AS sd_qty,
round(var_samp(l_quantity), 4) AS var_qty,
${H.r4zSql("corr(l_quantity, l_extendedprice)")} AS corr_qty_price,
${H.r4zSql("covar_samp(l_quantity, l_extendedprice)")} AS covar_qty_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** collect_list order is nondeterministic → sort_array, then stringify for
    * a hash-stable scalar (SURVEY §5.4.4).
    */
  private val aggCollectSorted = Q(
    "agg_collect_sorted",
    (s, d) => T.nation(s, d)
      .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
      .orderBy("r_name"),
    Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name"""))

  private val pivotTypes = Seq("click", "error", "purchase", "signup", "view")

  private val aggPivot = Q(
    "agg_pivot",
    (s, d) => {
      val p = T.events(s, d).groupBy("user_id")
        .pivot("event_type", pivotTypes)
        .agg(sum(col("value").cast(D184)))
      p.select(col("user_id") +:
          pivotTypes.map(t => coalesce(col(t).cast("double"), lit(0.0)).as(s"v_$t")): _*)
        .orderBy("user_id")
    },
    Some("SELECT user_id,\n" + pivotTypes.map(t =>
      s"coalesce(CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 0) AS v_$t")
      .mkString(",\n") +
      "\nFROM events GROUP BY user_id ORDER BY user_id"))

  /** argmax/argmin with a (value, id) composite ordering key so ties are
    * deterministic in both engines.
    */
  private val aggMinmaxBy = Q(
    "agg_minmax_by",
    (s, d) => T.events(s, d).groupBy("user_id")
      .agg(max_by(col("event_type"), struct(col("value"), col("event_id"))).as("max_type"),
        max(col("value")).as("max_value"),
        min_by(col("event_type"), struct(col("value"), col("event_id"))).as("min_type"),
        min(col("value")).as("min_value"))
      .orderBy("user_id"),
    Some("""SELECT a.user_id AS user_id, a.event_type AS max_type, amax.v AS max_value,
b.event_type AS min_type, amin.v AS min_value
FROM (SELECT user_id, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
      FROM events) a
JOIN (SELECT user_id, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rn
      FROM events) b
  ON a.user_id = b.user_id AND a.rn = 1 AND b.rn = 1
JOIN (SELECT user_id, max(value) AS v FROM events GROUP BY user_id) amax
  ON amax.user_id = a.user_id
JOIN (SELECT user_id, min(value) AS v FROM events GROUP BY user_id) amin
  ON amin.user_id = a.user_id
ORDER BY user_id"""))

  /** Fixed 10-bin histogram of `value` per event_type between the group's
    * own min/max. Bounds come from an aggregate joined back (broadcast —
    * one row per group), NOT a window over the low-cardinality partition
    * (which would funnel the whole table through 5 reducers at scale).
    * Bucket arithmetic is the same IEEE expression in both engines.
    */
  private val aggHistogram = Q(
    "agg_histogram",
    (s, d) => {
      val ev = T.events(s, d).select(col("event_type"), col("value"))
      val bounds = ev.groupBy("event_type")
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("bucket",
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(least(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 10), lit(9L))))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type", "bucket")
    },
    Some(s"""SELECT e.event_type AS event_type,
CASE WHEN hi = lo THEN 0
     ELSE CAST(least(floor((value - lo) / (hi - lo) * 10), 9) AS BIGINT) END AS bucket,
count(*) AS n, ${dsumSql("value")} AS sum_value
FROM events e
JOIN (SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM events GROUP BY event_type) b
ON e.event_type = b.event_type
GROUP BY 1, 2 ORDER BY event_type, bucket"""))

  /** Weighted percentiles (§2.4 ext): smallest l_extendedprice whose
    * cumulative l_quantity weight reaches p × the flag's total weight —
    * the volume-weighted price percentile a shipping/flow report asks for
    * and `percentile()` can't express. Thin wrapper over
    * [[graft.api.Fts.weightedPercentiles]], which carries the scale
    * contract: NO window partitioned on the 3-distinct-value flag alone
    * (PlanSpec pins its absence) — two-stage bucketed prefix sum with the
    * only window on (flag, bucket). Quantities are integer-valued doubles
    * (≪2^53), so the builder's two-stage sums are bit-identical to the
    * single-pass form; PropSpec property-checks the crossing rule on
    * generated corpora. Output prices are raw fixture doubles.
    */
  private val aggWeightedPercentile = Q(
    "agg_weighted_percentile",
    (s, d) => graft.api.Fts.weightedPercentiles(
        T.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity")),
        "l_returnflag", "l_extendedprice", "l_quantity")
      .orderBy("l_returnflag"),
    Some("""WITH pre AS (
  SELECT l_returnflag, l_extendedprice, sum(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, l_extendedprice, w,
    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw,
    sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM pre)
SELECT l_returnflag,
  min(CASE WHEN cw * 2 >= tw THEN l_extendedprice END) AS wp50,
  min(CASE WHEN cw * 10 >= tw * 9 THEN l_extendedprice END) AS wp90,
  sum(w) AS total_weight
FROM cum GROUP BY 1 ORDER BY 1"""))

  /** The reference's headline report: top-10 problem links (here: users) by
    * error rate with an event-count floor — [[graft.api.Fts.successRate]]
    * composed with an orderBy+limit that plans as TakeOrderedAndProject
    * (per-partition top-k, then merge — no global sort).
    */
  private val aggProblemLinks = Q(
    "agg_problem_links",
    (s, d) => graft.api.Fts.successRate(T.events(s, d), Seq("user_id"),
        col("event_type") === "error")
      .filter(col("n_events") >= 20)
      .orderBy(col("error_rate").desc, col("user_id").asc)
      .limit(10),
    Some("""SELECT user_id, count(*) AS n_events,
count(*) FILTER (WHERE event_type = 'error') AS n_errors,
count(*) FILTER (WHERE event_type = 'error') / count(*) AS error_rate,
1 - count(*) FILTER (WHERE event_type = 'error') / count(*) AS success_rate
FROM events GROUP BY user_id
HAVING count(*) >= 20
ORDER BY error_rate DESC, user_id ASC LIMIT 10"""))

  /** Per-source distribution diagnostics (§2.4 ext) — Shannon entropy and
    * Gini impurity of each source's LANGUAGE mix, plus doc/lang counts:
    * the corpus-mixing dashboard row (a source whose language entropy
    * collapses is a crawl gone monolingual; Gini is the same signal on a
    * 0..1 scale without the log).
    *
    * Float discipline: probabilities are exact integer ratios (identical
    * IEEE division); the entropy terms `p·ln p` cross libm (`ln` differs
    * at ulp level between engines) → [[H.q6]]-quantize each term and sum
    * as exact DECIMAL(28,6) ([[H.dec6Sum]]), then negate via `0.0 − s`
    * (IEEE: +0.0 even when s = 0, so single-language sources emit +0.0 in
    * BOTH engines — no signed-zero hazard, no rounding). Gini
    * `1 − Σcnt²/tot²` needs no quantization at all: Σcnt² is an exact
    * integer aggregate, the rest is identical IEEE arithmetic — RAW.
    *
    * Scale shape: two chained hash aggregates (source×lang grain, then
    * source grain) and one broadcast-sized join back — nothing row-grain
    * past the first aggregate.
    */
  private val aggEntropy = Q(
    "agg_entropy",
    (s, d) => {
      val c = T.documents(s, d).groupBy("source", "lang")
        .agg(count(lit(1)).as("cnt"))
      val t = c.groupBy("source").agg(sum(col("cnt")).as("tot"),
        sum(col("cnt") * col("cnt")).as("sq"),
        count(lit(1)).as("n_langs"))
      val p = col("cnt").cast("double") / col("tot")
      val e = c.join(t, "source")
        .select(col("source"), q6(p * log(p)).as("term"))
        .groupBy("source").agg(dec6Sum(col("term")).as("s"))
      e.join(t, "source")
        .select(col("source"), col("tot").as("n_docs"), col("n_langs"),
          (lit(0.0) - col("s")).as("entropy"),
          (lit(1.0) - col("sq").cast("double")
            / (col("tot").cast("double") * col("tot").cast("double")))
            .as("gini"))
        .orderBy("source")
    },
    Some(s"""WITH c AS (SELECT source, lang, count(*) AS cnt
  FROM documents GROUP BY 1, 2),
t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot,
        CAST(sum(cnt * cnt) AS BIGINT) AS sq,
        count(*) AS n_langs FROM c GROUP BY 1),
e AS (SELECT c.source AS source,
        ${dec6SumSql(q6Sql("(CAST(cnt AS DOUBLE) / tot) * ln(CAST(cnt AS DOUBLE) / tot)"))} AS s
      FROM c JOIN t ON c.source = t.source GROUP BY 1)
SELECT e.source AS source, t.tot AS n_docs, t.n_langs AS n_langs,
  0.0 - s AS entropy,
  1.0 - CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS gini
FROM e JOIN t ON e.source = t.source ORDER BY source"""))

  /** Supplier revenue concentration (§2.4 ext) — Herfindahl–Hirschman
    * index `Σ share²` and the Gini coefficient
    * `(2·Σ rank·share − (n+1)) / n` over per-supplier discounted revenue:
    * the market-concentration dashboard (is flow volume spread across the
    * fleet or funneling into a few hubs?). One row:
    * (n_suppliers, hhi, gini).
    *
    * Float discipline: revenue is the exact decimal-factor product sum
    * ([[H.m2]]·[[H.oneMinus]]); `tot` via [[H.dsum]] (4-decimal revenues
    * cast exactly); shares are identical-IEEE divisions; the share² and
    * rank·share terms are engine-divergent only in SUM ORDER → [[H.q6]] +
    * [[H.dec6Sum]]; the closing arithmetic is identical IEEE — RAW.
    *
    * Scale note (r16): the rank no longer rides a global window — it is
    * regenerated from `Fts.cumulativeWeights`' two-stage exclusive
    * cumulative (count of strictly smaller revenues) plus a row_number
    * within the tied revenue (window partitioned on the VALUE — reducer
    * input is one tie run), the win_ntile recipe: identical integers to
    * `row_number() OVER (ORDER BY rev, suppkey)`, so the oracle and
    * golden are unchanged, and the supplier dimension at 100× no longer
    * funnels through one reducer.
    */
  private val aggHhiGini = Q(
    "agg_hhi_gini",
    (s, d) => {
      // cached: three consumers (cumulativeWeights' pre-aggregate, the
      // totals agg, the rank join) — uncached, the lineitem scan + hash
      // aggregate would run three times (r16 review)
      val r = graft.api.Caches.cache(
        T.lineitem(s, d).groupBy("l_suppkey")
          .agg(sum(m2(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast("double").as("rev")))
      val t = r.agg(dsum(col("rev")).as("tot"), count(lit(1)).as("n"))
      val cum = graft.api.Fts.cumulativeWeights(
        r.withColumn("g", lit(1)).withColumn("one", lit(1L)),
        "g", "rev", "one")
      val offs = cum.select(col("rev"),
        (col("cw") - col("w")).cast("long").as("below"))
      val wv = Window.partitionBy("rev").orderBy("l_suppkey")
      val sh = r.join(offs, "rev").crossJoin(broadcast(t))
        .select(col("rev"), (col("rev") / col("tot")).as("share"),
          (col("below") + row_number().over(wv)).as("rk"),
          col("n"))
      sh.agg(count(lit(1)).as("n_suppliers"),
        dec6Sum(q6(col("share") * col("share"))).as("hhi"),
        ((lit(2.0) * dec6Sum(q6(col("rk") * col("share")))
          - (max(col("n")) + lit(1L))) / max(col("n"))).as("gini"))
    },
    Some(s"""WITH r AS (SELECT l_suppkey,
    CAST(sum(${m2Sql("l_extendedprice")} * ${oneMinusSql("l_discount")}) AS DOUBLE) AS rev
  FROM lineitem GROUP BY 1),
t AS (SELECT ${dsumSql("rev")} AS tot, count(*) AS n FROM r),
s AS (SELECT rev, CAST(rev AS DOUBLE) / tot AS share,
        row_number() OVER (ORDER BY rev ASC, l_suppkey ASC) AS rk, n
      FROM r, t)
SELECT count(*) AS n_suppliers,
  ${dec6SumSql(q6Sql("share * share"))} AS hhi,
  (2.0 * ${dec6SumSql(q6Sql("rk * share"))} - (max(n) + 1)) / max(n) AS gini
FROM s"""))

  /** Month-over-month RANK MOVERS (§2.4/2.5 ext) — the "trending items"
    * report: parts ranked per order-month by discounted revenue, then each
    * month's TOP-3 BIGGEST RANK CLIMBS vs the previous month (the
    * dashboard row behind "what broke out this period"). Emits
    * (m, pk, rank_prev, rank_cur, improve, rn) — every column an exact
    * long (revenue enters only through the rank), so the output is RAW
    * with zero float exposure; all orderings tie-break on part key.
    *
    * Float discipline inside the rank: per-(month, part) revenue is the
    * exact decimal-factor product sum ([[H.m2]]·[[H.oneMinus]] — the
    * measured half-up/half-even product-tie rule), cast to double once;
    * both engines rank the same exact values with the same (rev DESC,
    * pk ASC) total order, so the ranks — the only thing emitted — are
    * integers agreed bit-free.
    *
    * Scale shape: one (month, part) hash aggregate over the fact join
    * (orders side broadcast-eligible per AQE at fixture scale, sort-merge
    * beyond); the rank window partitions on MONTH over a part-grain frame
    * — dimension×calendar-bounded, the winNtile caveat (a fact-grain rank
    * would take the two-stage cumulativeWeights form); the
    * month-to-month self-join is (part, month)-keyed; the final top-3
    * window re-partitions on month over the joined pairs. Nothing
    * row-grain leaves the first aggregate.
    */
  private val aggRankMovers = Q(
    "agg_rank_movers",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pm = T.lineitem(s, d)
        .join(T.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(
          (year(to_date(col("o_orderdate"))) * 12 +
            month(to_date(col("o_orderdate")))).as("m"),
          col("l_partkey").as("pk"))
        .agg(sum(H.m2(col("l_extendedprice")) * H.oneMinus(col("l_discount")))
          .cast("double").as("rev"))
      val rk = pm.withColumn("rnk",
        row_number().over(Window.partitionBy("m")
          .orderBy(col("rev").desc, col("pk").asc)))
      val j = rk.as("a").join(rk.as("b"),
          col("a.pk") === col("b.pk") && col("b.m") === col("a.m") + 1)
        .select(col("b.m").as("m"), col("a.pk").as("pk"),
          col("a.rnk").as("rank_prev"), col("b.rnk").as("rank_cur"),
          (col("a.rnk") - col("b.rnk")).as("improve"))
      j.withColumn("rn",
          row_number().over(Window.partitionBy("m")
            .orderBy(col("improve").desc, col("pk").asc)))
        .filter(col("rn") <= 3)
        .orderBy("m", "rn")
    },
    Some(s"""WITH pm AS (
  SELECT year(CAST(o_orderdate AS DATE))*12 + month(CAST(o_orderdate AS DATE)) AS m,
    l_partkey AS pk,
    CAST(sum(${H.m2Sql("l_extendedprice")} * ${H.oneMinusSql("l_discount")}) AS DOUBLE) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
rk AS (SELECT m, pk, rev,
    row_number() OVER (PARTITION BY m ORDER BY rev DESC, pk ASC) AS rnk FROM pm),
j AS (SELECT b.m AS m, a.pk AS pk, a.rnk AS rank_prev, b.rnk AS rank_cur,
    a.rnk - b.rnk AS improve
  FROM rk a JOIN rk b ON a.pk = b.pk AND b.m = a.m + 1),
t AS (SELECT m, pk, rank_prev, rank_cur, improve,
    row_number() OVER (PARTITION BY m ORDER BY improve DESC, pk ASC) AS rn FROM j)
SELECT CAST(m AS BIGINT) AS m, pk, rank_prev, rank_cur,
  CAST(improve AS BIGINT) AS improve, rn
FROM t WHERE rn <= 3 ORDER BY m, rn"""))

  /** Chi-square test of independence (§2.4 ext) on the order-priority ×
    * order-status contingency table — the categorical-association screen
    * behind "does this dimension actually predict that one?" (e.g. does a
    * transfer's priority class move its terminal status mix?). Emits every
    * cell with its observed count, expected count under independence, and
    * contribution, plus the table-level chi2 and degrees of freedom
    * repeated per row (the n_capped_orders pattern — one frame, cell grain
    * + table stats).
    *
    * Float discipline: row/column/grand totals are exact longs;
    * `expected = rt·ct/n` and `contrib = (obs−exp)²/exp` are identical
    * spelled-order IEEE chains on those longs → RAW; only the chi2 SUM
    * over cells is order-divergent → [[H.q6]] + [[H.dec6Sum]]. `dof` is
    * pure integer arithmetic.
    *
    * Scale shape: one (pri, status) hash aggregate over the fact table,
    * then everything runs at CELL grain (|pri|×|status| rows); the margins
    * join cell-keyed and the 1-row total broadcasts. Nothing row-grain
    * survives the first aggregate — the shape that holds at any corpus
    * size with bounded category cardinalities.
    */
  private val aggChi2 = Q(
    "agg_chi2",
    (s, d) => {
      val cells = T.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("o_orderpriority").agg(sum("obs").as("rt"))
      val ct = cells.groupBy("o_orderstatus").agg(sum("obs").as("ct"))
      val tot = cells.agg(sum("obs").as("n"),
        countDistinct("o_orderpriority").as("npri"),
        countDistinct("o_orderstatus").as("nst"))
      val obsD = col("obs").cast("double")
      val e = cells.join(rt, "o_orderpriority").join(ct, "o_orderstatus")
        .crossJoin(broadcast(tot))
        .withColumn("expected",
          col("rt").cast("double") * col("ct").cast("double")
            / col("n").cast("double"))
        .withColumn("contrib",
          (obsD - col("expected")) * (obsD - col("expected"))
            / col("expected"))
      val stat = e.agg(dec6Sum(q6(col("contrib"))).as("chi2"),
        ((max(col("npri")) - 1L) * (max(col("nst")) - 1L)).as("dof"))
      e.select(col("o_orderpriority"), col("o_orderstatus"), col("obs"),
          col("expected"), col("contrib"))
        .crossJoin(broadcast(stat))
        .orderBy("o_orderpriority", "o_orderstatus")
    },
    Some(s"""WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS obs
  FROM orders GROUP BY 1, 2),
rt AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS rt FROM c GROUP BY 1),
ct AS (SELECT o_orderstatus, CAST(sum(obs) AS BIGINT) AS ct FROM c GROUP BY 1),
t AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        count(DISTINCT o_orderpriority) AS npri,
        count(DISTINCT o_orderstatus) AS nst FROM c),
e AS (SELECT c.o_orderpriority, c.o_orderstatus, obs,
        CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib,
        npri, nst
      FROM c JOIN rt USING (o_orderpriority) JOIN ct USING (o_orderstatus), t),
x AS (SELECT ${dec6SumSql(q6Sql("contrib"))} AS chi2,
        (max(npri) - 1) * (max(nst) - 1) AS dof FROM e)
SELECT o_orderpriority, o_orderstatus, obs, expected, contrib, chi2, dof
FROM e, x ORDER BY o_orderpriority, o_orderstatus"""))

  /** Cramér's V effect size (§2.4 ext, r11) — the MAGNITUDE companion to
    * [[aggChi2]]'s significance test: at corpus scale chi² rejects
    * independence for trivially small effects (it grows linearly with n),
    * so the monitoring question "does event mix actually DEPEND on
    * customer segment" needs `V = sqrt(chi²/(n·min(r−1, c−1)))` ∈ [0, 1],
    * which is n-invariant. Contingency here: event_type × c_mktsegment
    * (events enriched by the customer dimension — the stream_static_join
    * shape). One row: (n, r_levels, c_levels, dof, chi2, cramers_v).
    *
    * Float discipline: the per-cell contributions are identical IEEE
    * chains but their SUM is order-dependent in double — quantize at 1e-6
    * and sum as exact DECIMAL ([[H.q6]]/[[H.dec6Sum]], the aggChi2
    * discipline); V then closes as one division + correctly-rounded sqrt
    * on identical bits → RAW.
    *
    * Scale shape: the fact table collapses to CELL grain (types ×
    * segments) in one map-side-combinable agg after a broadcast dim join;
    * marginals, totals, and the V close all run on the bounded cell frame.
    */
  private val aggCramersV = Q(
    "agg_cramers_v",
    (s, d) => {
      val ev = T.events(s, d).select(col("user_id"), col("event_type"))
      val cust = T.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val cells = ev.join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy("event_type", "c_mktsegment")
        .agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("event_type").agg(sum("obs").as("rt"))
      val ct = cells.groupBy("c_mktsegment").agg(sum("obs").as("ct"))
      val tot = cells.agg(sum("obs").as("n"),
        countDistinct("event_type").as("r_levels"),
        countDistinct("c_mktsegment").as("c_levels"))
      val obsD = col("obs").cast("double")
      val expected = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val e = cells.join(rt, "event_type").join(ct, "c_mktsegment")
        .crossJoin(broadcast(tot))
        .withColumn("contrib",
          (obsD - expected) * (obsD - expected) / expected)
      e.groupBy("n", "r_levels", "c_levels")
        .agg(dec6Sum(q6(col("contrib"))).as("chi2"))
        .select(col("n"), col("r_levels"), col("c_levels"),
          ((col("r_levels") - 1L) * (col("c_levels") - 1L)).as("dof"),
          col("chi2"),
          sqrt(col("chi2") / (col("n").cast("double") *
            least(col("r_levels") - 1L, col("c_levels") - 1L)
              .cast("double"))).as("cramers_v"))
    },
    Some(s"""WITH ev AS (SELECT event_type, c_mktsegment
  FROM events JOIN customer ON user_id = c_custkey),
c AS (SELECT event_type, c_mktsegment, count(*) AS obs FROM ev GROUP BY 1, 2),
rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt FROM c GROUP BY 1),
ct AS (SELECT c_mktsegment, CAST(sum(obs) AS BIGINT) AS ct FROM c GROUP BY 1),
t AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        count(DISTINCT event_type) AS r_levels,
        count(DISTINCT c_mktsegment) AS c_levels FROM c),
e AS (SELECT (CAST(obs AS DOUBLE)
          - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(obs AS DOUBLE)
          - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib,
        n, r_levels, c_levels
      FROM c JOIN rt USING (event_type) JOIN ct USING (c_mktsegment), t)
SELECT n, r_levels, c_levels,
  (r_levels - 1) * (c_levels - 1) AS dof,
  ${dec6SumSql(q6Sql("contrib"))} AS chi2,
  sqrt(${dec6SumSql(q6Sql("contrib"))}
    / (CAST(n AS DOUBLE) * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE)))
    AS cramers_v
FROM e GROUP BY n, r_levels, c_levels"""))

  /** Two-sample Kolmogorov–Smirnov test (§2.4 ext) — the distributional
    * twin of [[aggAbTest]]'s proportion z-test: D = max |F̂₁(v) − F̂₂(v)|
    * between the order-value ECDFs of finished ('F') vs open ('O') orders,
    * plus the scaled statistic `ks = D·√(n1·n2/(n1+n2))` (the quantity
    * compared against the Kolmogorov critical values). One row:
    * (n1, n2, ks_d, ks_stat).
    *
    * Float discipline: the ECDF steps are exact-long cumulative counts
    * over identically-grouped exact doubles (o_totalprice bits from the
    * same parquet); each row's `|k1/n1 − k2/n2|` is an identical
    * spelled-order IEEE chain and `max` is order-independent → RAW; sqrt
    * is IEEE-correctly-rounded → ks_stat RAW too.
    *
    * Scale shape (r14 — the verdict's fact-scale twin, in place): the two
    * per-side ECDF step counts ride [[graft.api.Fts.cumulativeCounts2]]'s
    * two-stage bucketed prefix sum — one hash aggregate collapses the fact
    * table to DISTINCT VALUE grain, per-bucket partials + a broadcast
    * offset join replace the global ordered window, and the only window
    * partitions on (side-constant, bucket), reducer input |values|/32.
    * The long cumulative sums are exact in any association order, so k1/k2
    * are bit-identical to the former single-reducer window's (the oracle
    * keeps its one-window SQL — same numbers). PlanSpec pins that no
    * unpartitioned WindowExec survives in this plan.
    */
  private val aggKsTest = Q(
    "agg_ks_test",
    (s, d) => {
      val o = T.orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(col("o_totalprice").as("v"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("isa"))
      val n = o.agg(sum("isa").as("n1"),
        (count(lit(1)) - sum(col("isa"))).as("n2"))
      graft.api.Fts.cumulativeCounts2(o.withColumn("gk", lit(0)), "gk", "v",
          col("isa"), lit(1L) - col("isa"))
        .select(col("v"), col("cum1").as("k1"), col("cum2").as("k2"))
        .crossJoin(broadcast(n))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("k1").cast("double") / col("n1")
            - col("k2").cast("double") / col("n2"))).as("ks_d"))
        .withColumn("ks_stat", col("ks_d") *
          sqrt(col("n1").cast("double") * col("n2").cast("double")
            / (col("n1").cast("double") + col("n2").cast("double"))))
    },
    Some("""WITH o AS (SELECT o_totalprice AS v,
    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS isa
  FROM orders WHERE o_orderstatus IN ('F', 'O')),
g AS (SELECT v, CAST(sum(isa) AS BIGINT) AS c1,
        CAST(count(*) - sum(isa) AS BIGINT) AS c2 FROM o GROUP BY 1),
t AS (SELECT CAST(sum(isa) AS BIGINT) AS n1,
        CAST(count(*) - sum(isa) AS BIGINT) AS n2 FROM o),
c AS (SELECT v,
        CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k1,
        CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k2
      FROM g),
m AS (SELECT max(n1) AS n1, max(n2) AS n2,
        max(abs(CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)) AS ks_d
      FROM c, t)
SELECT n1, n2, ks_d,
  ks_d * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS ks_stat
FROM m"""))

  /** Deterministic bootstrap confidence interval (§2.4 ext) — the
    * resampling answer to "how stable is this mean?": B = 10 virtual
    * resamples of the order-value mean, each row's multiplicity in
    * resample b drawn from md5 hex digit b+1 of its key (0/1/2/3 with
    * probabilities 6/16, 6/16, 3/16, 1/16 — a Poisson(1)-shaped
    * approximate-multiplicity bootstrap, E[w] = 0.9375, engine-portable
    * and RNG-free like every hash-sampling key). Emits one row per
    * resample (b, n_eff, mean_b) plus the band (mean_lo/mean_hi = the
    * min/max resample mean) and the point estimate on every row.
    *
    * Float discipline: weights and counts are exact ints; each weighted
    * sum runs through [[H.dsum]] (w·price stays 2-decimal — DECIMAL-exact
    * in any order); means are identical IEEE divisions; min/max are
    * order-independent → ALL RAW.
    *
    * Scale shape: ONE corpus pass computing all 20 aggregates map-side
    * (no 10× row explosion — the virtual-resample trick that makes
    * bootstrap affordable at fact scale; the oracle uses the explode form
    * at fixture size); everything after is 10-row grain.
    */
  private val aggBootstrapCi = Q(
    "agg_bootstrap_ci",
    (s, d) => {
      def w(b: Int) = {
        val nib = expr(s"instr('0123456789abcdef', substring(md5(cast(o_orderkey as string)), ${b + 1}, 1)) - 1")
        when(nib < 6, 0L).when(nib < 12, 1L).when(nib < 15, 2L).otherwise(3L)
      }
      val aggs = (0 until 10).flatMap { b =>
        Seq(sum(w(b)).as(s"n$b"),
          dsum(w(b).cast("double") * col("o_totalprice")).as(s"s$b"))
      }
      val base = T.orders(s, d)
        .agg(aggs.head, aggs.tail :+
          dsum(col("o_totalprice")).as("tot") :+
          count(lit(1)).as("n"): _*)
      val rows = base.select(
        explode(array((0 until 10).map(b => struct(lit(b).as("b"),
          col(s"n$b").as("n_eff"), col(s"s$b").as("sv"))): _*)).as("r"),
        (col("tot") / col("n")).as("mean_full"))
        .select(col("r.b").as("b"), col("r.n_eff").as("n_eff"),
          (col("r.sv") / col("r.n_eff")).as("mean_b"), col("mean_full"))
      val band = rows.agg(min("mean_b").as("mean_lo"),
        max("mean_b").as("mean_hi"))
      rows.crossJoin(broadcast(band)).orderBy("b")
    },
    Some(s"""WITH r AS (SELECT o_orderkey, o_totalprice, b,
    CASE WHEN nib < 6 THEN 0 WHEN nib < 12 THEN 1 WHEN nib < 15 THEN 2 ELSE 3 END AS w
  FROM (SELECT o_orderkey, o_totalprice, b,
      strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), b + 1, 1)) - 1 AS nib
    FROM orders CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b))),
t AS (SELECT ${dsumSql("o_totalprice")} / count(*) AS mean_full FROM orders),
m AS (SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
        ${dsumSql("CAST(w AS DOUBLE) * o_totalprice")} / CAST(sum(w) AS BIGINT) AS mean_b
      FROM r GROUP BY b),
band AS (SELECT min(mean_b) AS mean_lo, max(mean_b) AS mean_hi FROM m)
SELECT b, n_eff, mean_b, mean_full, mean_lo, mean_hi
FROM m, t, band ORDER BY b"""))

  /** One-pass pairwise Pearson correlation MATRIX over the four lineitem
    * measures — the multi-metric profiling shape (feature-redundancy scan
    * before model training / mixture design) that [[aggStats]]'s single
    * grouped pair doesn't exercise: all C(4,2) = 6 correlations computed
    * in ONE aggregate pass over the corpus (Spark evaluates the six
    * `corr` co-moment accumulators side by side in the same hash agg —
    * one scan, map-side partials, a 1-row result), not six passes.
    *
    * Float discipline: corr's co-moment accumulation order differs
    * between engines (genuinely path-divergent) and correlations cross
    * zero → the [[H.r4z]]/[[H.r4zSql]] pair on every coefficient
    * (agg_stats precedent, core.scala H scaladoc audit).
    */
  private val aggCorrMatrix = Q(
    "agg_corr_matrix",
    (s, d) => {
      def c2(a: String, b: String) = H.r4z(corr(col(a), col(b)))
      T.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        c2("l_quantity", "l_extendedprice").as("corr_qty_price"),
        c2("l_quantity", "l_discount").as("corr_qty_disc"),
        c2("l_quantity", "l_tax").as("corr_qty_tax"),
        c2("l_extendedprice", "l_discount").as("corr_price_disc"),
        c2("l_extendedprice", "l_tax").as("corr_price_tax"),
        c2("l_discount", "l_tax").as("corr_disc_tax"))
    },
    Some(s"""SELECT count(*) AS n_rows,
${H.r4zSql("corr(l_quantity, l_extendedprice)")} AS corr_qty_price,
${H.r4zSql("corr(l_quantity, l_discount)")} AS corr_qty_disc,
${H.r4zSql("corr(l_quantity, l_tax)")} AS corr_qty_tax,
${H.r4zSql("corr(l_extendedprice, l_discount)")} AS corr_price_disc,
${H.r4zSql("corr(l_extendedprice, l_tax)")} AS corr_price_tax,
${H.r4zSql("corr(l_discount, l_tax)")} AS corr_disc_tax
FROM lineitem"""))

  /** Closed-form OLS fit (price ~ quantity, per return flag) from the
    * normal equations — distributed regression as ONE aggregation pass:
    * the five sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) come out
    * of a single map-side-combinable hash agg, and slope / intercept /
    * R² are scalar arithmetic on the 3-row result. The 100 TB shape for
    * linear model fitting: no iteration, no driver-side data, the model
    * IS the aggregate.
    *
    * Float discipline (r11, the ADVICE fix): x (quantity) and y (price)
    * are exactly-2-decimal fixtures, so the sufficient statistics are
    * computed ENTIRELY in integer arithmetic — both variables scale to
    * exact BIGINT cents ([[H.cents]]; slope and r² are invariant under the
    * common ×100, intercept divides back once at the end), the linear sums
    * Σx, Σy are plain BIGINTs (< 2^53, exact double conversion in both
    * engines), and the quadratic sums Σx², Σxy, Σy² — whose DECIMAL totals
    * previously crossed 2^53 and hit the DECIMAL→DOUBLE double-rounding
    * divergence ([[aggSpearman]]) — use the [[H.hiLoSums]] split-sum, whose
    * close is the CORRECTLY ROUNDED double of the exact integer total in
    * both engines. Budget: per-row p = yc² ≤ 1e14 < 2^63; Σp ≈ 6e19 at
    * sf0.1 < 2^78; n per flag ≤ 2e5 < 2^28 — within every [[H.hiLoSums]]
    * bound with ≥400× headroom. The closed-form arithmetic after the
    * closes is IDENTICAL IEEE ops on identical bits in both engines, so
    * slope/intercept/r2 emit RAW (no rounding), spelled with the same
    * expression tree in the oracle.
    */
  private val aggOlsFit = Q(
    "agg_ols_fit",
    (s, d) => {
      val xc = cents(col("l_quantity"))
      val yc = cents(col("l_extendedprice"))
      val aggs = Seq(
          sum(xc).cast("double").as("sx"),
          sum(yc).cast("double").as("sy")) ++
        hiLoSums(xc * xc, "xx") ++ hiLoSums(xc * yc, "xy") ++
        hiLoSums(yc * yc, "yy")
      val g = T.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"), aggs: _*)
        .withColumn("sxx", hiLoClose("xx"))
        .withColumn("sxy", hiLoClose("xy"))
        .withColumn("syy", hiLoClose("yy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      val cxy = col("n") * col("sxy") - col("sx") * col("sy")
      g.select(col("l_returnflag"),
          col("n").cast("bigint").as("n_rows"),
          (cxy / vx).as("slope"),
          ((col("sy") - cxy / vx * col("sx")) / col("n") / lit(100.0))
            .as("intercept"),
          (cxy * cxy / (vx * vy)).as("r2"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH c AS (SELECT l_returnflag,
    ${centsSql("l_quantity")} AS xc, ${centsSql("l_extendedprice")} AS yc
  FROM lineitem),
g AS (SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(xc) AS DOUBLE) AS sx,
    CAST(sum(yc) AS DOUBLE) AS sy,
    ${hiLoSumsSql("xc * xc", "xx")},
    ${hiLoSumsSql("xc * yc", "xy")},
    ${hiLoSumsSql("yc * yc", "yy")}
  FROM c GROUP BY l_returnflag),
h AS (SELECT l_returnflag, n, sx, sy,
    ${hiLoCloseSql("xx")} AS sxx,
    ${hiLoCloseSql("xy")} AS sxy,
    ${hiLoCloseSql("yy")} AS syy
  FROM g)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100.0 AS intercept,
(n * sxy - sx * sy) * (n * sxy - sx * sy)
  / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM h ORDER BY l_returnflag"""))

  /** Two-regressor OLS via the 3×3 normal equations (§2.4 ext, r11) —
    * [[aggOlsFit]]'s multivariate step: `price ~ quantity + discount` per
    * return flag, solved in CLOSED FORM by Cramer's rule over the nine
    * sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y,
    * Σx₂y, plus Σy² for R²) — distributed multi-feature regression as ONE
    * map-side-combinable aggregation pass and a 3-row scalar close: no
    * iteration, no driver-side data, no linear-algebra library. Emits
    * (flag, n_rows, b0, b_qty, b_disc, r2).
    *
    * Float discipline (the [[aggOlsFit]] r11 rule, one feature wider):
    * x₁ = quantity cents, x₂ = discount basis points (both exact
    * integers via [[H.cents]]), y = price cents; every sufficient
    * statistic is an exact integer sum. THREE totals can pass 2^53 within
    * the group-size budget and take the [[H.hiLoSums]] split-sum: Σy²
    * (≈6e19 already at sf0.1; per-row p = yc² ≤ 1.3e14), Σx₁y (≈2.3e15 at
    * sf0.1, past 2^53 ≈ 9e15 near sf0.4; p = x₁·yc ≤ 5.5e10) and Σx₂y
    * (≈9e13 at sf0.1, past 2^53 near sf40; p = x₂·yc ≤ 1.1e8) — r12,
    * fixing the r11 doc that claimed only Σy² crossed. (Values are
    * UNCHANGED at every scale where the old BIGINT sums were legal:
    * BIGINT→DOUBLE is correctly rounded in both engines, exactly what
    * hiLoClose computes — the split just keeps the sums exact past 2^63.)
    * The remaining totals stay under 2^53 for any group under the 2^28-row
    * hiLo budget: Σx₁² ≤ 2.5e7·n, Σy ≤ 1.1e7·n, Σx₁x₂ ≤ 5e4·n, Σx₂² ≤
    * 100·n — all < 9e15 at n < 2^28. The Cramer determinants and the R²
    * close are identical spelled-order IEEE on identical bits in both
    * engines → RAW. Coefficients are scale-invariant under the common
    * ×100 except the intercept, which divides back once. PropSpec proves
    * the hiLo path against BigInt-exact sums on a planted frame whose
    * Σx₁y crosses 2^53.
    */
  private val aggOlsMulti = Q(
    "agg_ols_multi",
    (s, d) => {
      val x1 = cents(col("l_quantity"))
      val x2 = cents(col("l_discount"))
      val yc = cents(col("l_extendedprice"))
      val aggs = Seq(
          sum(x1).cast("double").as("s1"),
          sum(x2).cast("double").as("s2"),
          sum(yc).cast("double").as("sy"),
          sum(x1 * x1).cast("double").as("s11"),
          sum(x2 * x2).cast("double").as("s22"),
          sum(x1 * x2).cast("double").as("s12")) ++
        hiLoSums(x1 * yc, "1y") ++ hiLoSums(x2 * yc, "2y") ++
        hiLoSums(yc * yc, "yy")
      val g = T.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"), aggs: _*)
        .withColumn("s1y", hiLoClose("1y"))
        .withColumn("s2y", hiLoClose("2y"))
        .withColumn("syy", hiLoClose("yy"))
      import org.apache.spark.sql.Column
      def det(a: Column, b: Column, c: Column, p: Column, q0: Column,
          r: Column, x: Column, y: Column, z: Column): Column =
        a * (q0 * z - r * y) - b * (p * z - r * x) + c * (p * y - q0 * x)
      val (n, s1, s2, sy) = (col("n"), col("s1"), col("s2"), col("sy"))
      val (s11, s22, s12) = (col("s11"), col("s22"), col("s12"))
      val (s1y, s2y, syy) = (col("s1y"), col("s2y"), col("syy"))
      val dA = det(n, s1, s2, s1, s11, s12, s2, s12, s22)
      val d0 = det(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
      val d1 = det(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
      val d2 = det(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
      val b0 = d0 / dA
      val b1 = d1 / dA
      val b2 = d2 / dA
      val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
      val sst = syy - sy * sy / n
      g.select(col("l_returnflag"), col("n").cast("bigint").as("n_rows"),
          (b0 / lit(100.0)).as("b0"), b1.as("b_qty"), b2.as("b_disc"),
          (lit(1.0) - sse / sst).as("r2"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH c AS (SELECT l_returnflag,
    ${centsSql("l_quantity")} AS x1, ${centsSql("l_discount")} AS x2,
    ${centsSql("l_extendedprice")} AS yc
  FROM lineitem),
g AS (SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(x1) AS DOUBLE) AS s1,
    CAST(sum(x2) AS DOUBLE) AS s2,
    CAST(sum(yc) AS DOUBLE) AS sy,
    CAST(sum(x1 * x1) AS DOUBLE) AS s11,
    CAST(sum(x2 * x2) AS DOUBLE) AS s22,
    CAST(sum(x1 * x2) AS DOUBLE) AS s12,
    ${hiLoSumsSql("x1 * yc", "1y")},
    ${hiLoSumsSql("x2 * yc", "2y")},
    ${hiLoSumsSql("yc * yc", "yy")}
  FROM c GROUP BY l_returnflag),
h AS (SELECT *, ${hiLoCloseSql("1y")} AS s1y, ${hiLoCloseSql("2y")} AS s2y,
    ${hiLoCloseSql("yy")} AS syy FROM g),
k AS (SELECT l_returnflag, n, sy, s1y, s2y, syy,
    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s12 - s11 * s2) AS dA,
    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      + s2 * (s1y * s12 - s11 * s2y) AS d0,
    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s2y - s1y * s2) AS d1,
    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      + sy * (s1 * s12 - s11 * s2) AS d2
  FROM h)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
  d0 / dA / 100.0 AS b0, d1 / dA AS b_qty, d2 / dA AS b_disc,
  1.0 - (syy - d0 / dA * sy - d1 / dA * s1y - d2 / dA * s2y)
      / (syy - sy * sy / n) AS r2
FROM k ORDER BY l_returnflag"""))

  /** PHYSICALLY persisted daily-sketch table (§2.4 ext) — the missing
    * storage half of [[aggHllMerge]], which sketches and merges within
    * one job: here the per-(event_type, day) HLL sketches are WRITTEN as
    * a parquet table partitioned by day
    * ([[graft.api.Sketches.writeSketchTable]]) and the answer is computed
    * from the STORED table ([[graft.api.Sketches.readMergeSketchTable]])
    * — the llm_shard_write / llm_ann_index_persist physical-round-trip
    * discipline applied to the sketch family. Day-partitioned layout
    * means a "last month" report prunes at file-listing level and reads
    * KB of sketches, never the corpus.
    *
    * Declared-only BY DESIGN (DataSketches registers — the agg_hll_merge
    * boundary); deterministic, so GoldenSpec pins the estimates, and
    * ApiSpec pins the layout contract: read-back-merge == in-memory
    * [[graft.api.Sketches.hllMergeEstimate]] EXACTLY, full and
    * shard-filtered.
    */
  private val aggHllSketchTable = Q(
    "agg_hll_sketch_table",
    (s, d) => {
      val dir = new java.io.File(Llm.shardRoot,
        s"graft_hllsk_${new java.io.File(d).getName}").getAbsolutePath
      val ev = T.events(s, d)
        .withColumn("day", to_date(date_trunc("day", col("ts"))))
      graft.api.Sketches.writeSketchTable(ev, col("day"),
        Seq("event_type"), "user_id", dir, lgK = 12)
      graft.api.Sketches.readMergeSketchTable(s, dir, Seq("event_type"))
        .withColumnRenamed("approx_distinct", "approx_users")
        .orderBy("event_type")
    },
    None)

  /** Dynamic partition pruning (§2.3 ext) — THE 100 TB star-join scan
    * killer: the fact table (orders, physically partitioned by
    * o_orderpriority) is joined to a dimension whose filter is on a
    * NON-KEY attribute (`rn <= 2`, a stored dimension column), so no
    * static predicate can reach the fact scan — only Spark's runtime DPP
    * (reusing the dim's broadcast result as an IN-filter on the fact's
    * partition column) prunes the fact read to the 2 matching partitions
    * of 5. PlanSpec pins `dynamicpruningexpression` inside the fact
    * scan's PartitionFilters; the oracle proves result equivalence on
    * the unpartitioned source.
    *
    * Both sides are physically written each build (llm_shard_write
    * discipline): the fact as a partitioned layout, the dim as a plain
    * parquet whose `rn` attribute is a deterministic dense rank —
    * dimension-grain (5 rows), so its global window is constant-size.
    */
  private val joinDppPrune = Q(
    "join_dpp_prune",
    (s, d) => {
      val outBase = new java.io.File(Llm.shardRoot,
        s"graft_dpp_${new java.io.File(d).getName}").getAbsolutePath
      val o = T.orders(s, d)
      o.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(s"$outBase/fact")
      o.select(col("o_orderpriority").as("prio")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("prio")))
        .write.mode("overwrite").parquet(s"$outBase/dim")
      val fact = s.read.parquet(s"$outBase/fact")
      val dim = s.read.parquet(s"$outBase/dim").filter(col("rn") <= 2)
      fact.join(dim, fact("o_orderpriority") === dim("prio"))
        .groupBy(col("prio").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("priority")
    },
    Some(s"""WITH dim AS (SELECT prio, row_number() OVER (ORDER BY prio) AS rn
  FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders))
SELECT prio AS priority, count(*) AS n_orders,
${dsumSql("o_totalprice")} AS sum_total
FROM orders JOIN dim ON o_orderpriority = prio
WHERE rn <= 2
GROUP BY prio ORDER BY priority"""))

  /** Spearman rank correlation per group (§2.4 ext) — the monotone-
    * association twin of agg_corr_matrix's Pearson: rho of (l_quantity,
    * l_extendedprice) per l_returnflag, computed as Pearson on AVERAGE
    * (tie-midrank) ranks so ties are handled exactly, not dropped.
    *
    * Scale shape: NO row-grain window. Each variable's average ranks are
    * derived at VALUE grain (one map-side-combinable count per distinct
    * value, then a cumulative window over the value-grain frame — bounded
    * by distinct-value cardinality, not row count); the joint moment
    * Σ rx·ry·w comes from the (x, y) PAIR grain joined back to the two
    * value-grain rank frames. The only sorts in the plan are value-grain.
    *
    * Float discipline: DOUBLED midranks (2·avgrank = 2·cum − c + 1) are
    * exact BIGINTs, so every sufficient statistic is a pure integer sum —
    * order-independent with NO decimal accumulator at all (a DECIMAL sum
    * would hit the measured DECIMAL→DOUBLE divergence: DuckDB converts
    * via int128→double THEN divides by 10^scale, Spark via correctly-
    * rounded BigDecimal — off by an ulp above 2^53). BIGINT→DOUBLE is
    * correctly rounded in both engines; the ×2 rank scale multiplies the
    * Pearson numerator and denominator by the same exact power of two,
    * so rho is bit-identical to the unscaled value. Integer bound:
    * Σ (2r)²·w ≈ 4n³/3 stays under 2^63 to n ≈ 1.3e6 per group (fixture
    * max 2e5); past that the sums would need DECIMAL(38,0) kept as
    * decimal into the closing arithmetic.
    */
  private val aggSpearman = Q(
    "agg_spearman",
    (s, d) => {
      val li = T.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      // doubled midranks via the shared TWO-STAGE bucketed prefix sum
      // (r17): the r1–r16 form ran a window PARTITIONED ON THE 3-VALUE
      // FLAG over the (flag, DISTINCT value) grain — the whole value
      // domain of a flag through one reducer, exactly the shape
      // agg_mann_whitney/win_ntile were rewritten to kill (guide §2.5).
      // cumulativeCounts2's cum1 is an exact-LONG sum, bit-identical to
      // the windowed prefix sum in any association order, so the ranks —
      // and the oracle hash — are unchanged.
      // r18 constant shave: ONE cached (flag, x, y) pair frame feeds both
      // rank grains AND the joint-moment join — the r17 form scanned the
      // fact table three times (once per cumulativeCounts2 call, once for
      // pairs) and cached two fact-grain pre-aggregates inside the shared
      // machinery. Each rank grain is Σw over the pair frame (exact LONG,
      // identical to counting fact rows), fed straight to the prefix-sum
      // core via cumulativeCounts2Pre.
      val pairs = graft.api.Caches.cache(
        li.groupBy("flag", "x", "y").agg(count(lit(1)).as("w")))
      def rankGrain(vcol: String): DataFrame =
        graft.api.Fts.cumulativeCounts2Pre(
            graft.api.Caches.cache(pairs.groupBy(col("flag"), col(vcol))
              .agg(sum(col("w")).as("c1")).withColumn("c2", lit(0L))),
            "flag", vcol, 32, None)
          .select(col("flag"), col(vcol),
            (lit(2L) * col("cum1") - col("c1") + lit(1L)).as(s"r_$vcol"))
      val j = pairs
        .join(rankGrain("x"), Seq("flag", "x"))
        .join(rankGrain("y"), Seq("flag", "y"))
      val g = j.groupBy("flag").agg(
        sum("w").as("n"),
        sum(col("r_x") * col("w")).as("sx"),
        sum(col("r_y") * col("w")).as("sy"),
        sum(col("r_x") * col("r_x") * col("w")).as("sxx"),
        sum(col("r_y") * col("r_y") * col("w")).as("syy"),
        sum(col("r_x") * col("r_y") * col("w")).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val nD = dbl("n")
      g.select(col("flag"), col("n"),
          ((nD * dbl("sxy") - dbl("sx") * dbl("sy")) /
            sqrt((nD * dbl("sxx") - dbl("sx") * dbl("sx")) *
              (nD * dbl("syy") - dbl("sy") * dbl("sy")))).as("rho"))
        .orderBy("flag")
    },
    Some(s"""WITH li AS (SELECT l_returnflag AS flag, l_quantity AS x,
    l_extendedprice AS y FROM lineitem),
xg AS (SELECT flag, x, CAST(2 * cum - c + 1 AS BIGINT) AS r_x
  FROM (SELECT flag, x, count(*) AS c,
      sum(count(*)) OVER (PARTITION BY flag ORDER BY x
        ROWS UNBOUNDED PRECEDING) AS cum
    FROM li GROUP BY 1, 2)),
yg AS (SELECT flag, y, CAST(2 * cum - c + 1 AS BIGINT) AS r_y
  FROM (SELECT flag, y, count(*) AS c,
      sum(count(*)) OVER (PARTITION BY flag ORDER BY y
        ROWS UNBOUNDED PRECEDING) AS cum
    FROM li GROUP BY 1, 2)),
p AS (SELECT flag, x, y, count(*) AS w FROM li GROUP BY 1, 2, 3),
g AS (SELECT flag, CAST(sum(w) AS BIGINT) AS n,
    CAST(sum(r_x * w) AS BIGINT) AS sx,
    CAST(sum(r_y * w) AS BIGINT) AS sy,
    CAST(sum(r_x * r_x * w) AS BIGINT) AS sxx,
    CAST(sum(r_y * r_y * w) AS BIGINT) AS syy,
    CAST(sum(r_x * r_y * w) AS BIGINT) AS sxy
  FROM p JOIN xg USING (flag, x) JOIN yg USING (flag, y) GROUP BY 1)
SELECT flag, n,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
FROM g ORDER BY flag"""))

  /** Mann–Whitney U rank-sum test (§2.4 ext) — the nonparametric two-sample
    * location test (does URGENT order value stochastically dominate LOW?):
    * tie-midrank U statistic with the exact tie-corrected normal
    * approximation, over o_totalprice of '1-URGENT' vs '5-LOW' orders.
    *
    * Scale shape (r14 — the verdict's fact-scale twin, in place): the
    * corpus collapses to VALUE grain in one map-side-combinable agg (count
    * + group-1 count per distinct price) inside
    * [[graft.api.Fts.cumulativeCounts2]], whose two-stage bucketed prefix
    * sum replaces the former unpartitioned cumulative window: per-bucket
    * partials + a broadcast offset join, the only window keyed on
    * (side-constant, bucket) — reducer input |values|/32, never the fact
    * row count OR the whole value domain. Long sums are exact in any
    * association order, so `cum` (hence the doubled midranks) is
    * bit-identical to the single-pass form and the oracle keeps its
    * one-window SQL. PlanSpec pins no unpartitioned WindowExec.
    *
    * Float discipline: DOUBLED midranks (2·avgrank = 2·cum − c + 1) are
    * exact BIGINTs, so the rank sum is a pure integer sum halved ONCE in
    * double (exact power-of-two scaling) — no decimal accumulator, no
    * DECIMAL→DOUBLE conversion divergence (see [[aggSpearman]]); the tie
    * term Σ(t³−t) is exact BIGINT; closing z is identical IEEE → ALL RAW.
    */
  private val aggMannWhitney = Q(
    "agg_mann_whitney",
    (s, d) => {
      val o = T.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_totalprice").as("v"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("in1"))
      val ranked = graft.api.Fts.cumulativeCounts2(
          o.withColumn("gk", lit(0)), "gk", "v", lit(1L), col("in1"))
        .select(col("c1").as("c"), col("c2").as("c1"),
          (lit(2L) * col("cum1") - col("c1") + lit(1L)).as("r2"))
      val g = ranked.agg(
        sum("c1").as("n1"),
        (sum("c") - sum("c1")).as("n2"),
        (sum(col("r2") * col("c1")).cast("double") / lit(2.0)).as("r1"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      val n1 = col("n1").cast("double")
      val n2 = col("n2").cast("double")
      val nT = n1 + n2
      val u1 = col("r1") - n1 * (n1 + lit(1.0)) / lit(2.0)
      val sigma = sqrt(n1 * n2 / lit(12.0) *
        ((nT + lit(1.0)) - col("ties").cast("double") / (nT * (nT - lit(1.0)))))
      g.select(col("n1"), col("n2"), col("r1"), u1.as("u1"),
        ((u1 - n1 * n2 / lit(2.0)) / sigma).as("z"))
    },
    Some(s"""WITH o AS (SELECT o_totalprice AS v,
    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS in1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
grain AS (SELECT v, count(*) AS c, CAST(sum(in1) AS BIGINT) AS c1
  FROM o GROUP BY 1),
ranked AS (SELECT c, c1, CAST(2 * cum - c + 1 AS BIGINT) AS r2
  FROM (SELECT c, c1, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      AS cum FROM grain)),
g AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
    CAST(sum(c) - sum(c1) AS BIGINT) AS n2,
    CAST(CAST(sum(r2 * c1) AS BIGINT) AS DOUBLE) / 2.0 AS r1,
    CAST(sum(c * c * c - c) AS BIGINT) AS ties
  FROM ranked)
SELECT n1, n2, r1,
  r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1,
  (r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
    - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
  / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
    * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
      - CAST(ties AS DOUBLE)
        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
          * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))) AS z
FROM g"""))

  /** Welch's unequal-variance t-test (§2.4 ext) — the means twin of
    * agg_ab_test's proportions z: does mean order value differ between
    * fulfilled ('F') and open ('O') orders, WITHOUT assuming equal
    * variances (Welch–Satterthwaite dof).
    *
    * Scale shape: ONE corpus scan computing all six sufficient statistics
    * as conditional aggregates (map-side combinable); everything after is
    * a 1-row select.
    *
    * Float discipline (r11, the ADVICE fix): o_totalprice is an exact
    * 2-decimal double, so both sides' sufficient statistics are computed
    * in INTEGER arithmetic over exact BIGINT cents ([[H.cents]]): Σx is a
    * plain BIGINT sum (< 2^53, exact double conversion in both engines)
    * and Σx² — whose DECIMAL total previously crossed 2^53 and risked the
    * DECIMAL→DOUBLE double-rounding divergence ([[aggSpearman]]) — uses
    * the [[H.hiLoSums]] split-sum, correctly-rounded close in both
    * engines. Budget: per-row p = xc² ≤ 2.5e15 < 2^63; Σp ≈ 3.8e20 at
    * sf0.1 < 2^78; n per status ≤ 1.5e5 < 2^28 — ≥700× headroom on every
    * [[H.hiLoSums]] bound. t and dof are scale-invariant and close in
    * cent units; means and variances divide back by 100 / 10⁴ once at the
    * end (single IEEE ops, identically spelled) → ALL RAW, no rounding.
    */
  private val aggWelchTtest = Q(
    "agg_welch_ttest",
    (s, d) => {
      val xc = cents(col("o_totalprice"))
      def side(st: String, tag: String) = Seq(
          sum(when(col("o_orderstatus") === st, 1L).otherwise(0L))
            .as(s"n_$tag"),
          sum(when(col("o_orderstatus") === st, xc)).cast("double")
            .as(s"sx_$tag")) ++
        hiLoSums(when(col("o_orderstatus") === st, xc * xc), tag)
      val g = T.orders(s, d).agg(side("F", "f").head,
          (side("F", "f").tail ++ side("O", "o")): _*)
        .withColumn("sxx_f", hiLoClose("f"))
        .withColumn("sxx_o", hiLoClose("o"))
      def stats(tag: String) = {
        val n = col(s"n_$tag").cast("double")
        val m = col(s"sx_$tag") / n
        val v = (col(s"sxx_$tag") - col(s"sx_$tag") * col(s"sx_$tag") / n) /
          (n - lit(1.0))
        (n, m, v)
      }
      val (nf, mf, vf) = stats("f")
      val (no, mo, vo) = stats("o")
      val se2 = vf / nf + vo / no
      g.select(col("n_f"), col("n_o"),
        (mf / lit(100.0)).as("mean_f"), (mo / lit(100.0)).as("mean_o"),
        (vf / lit(10000.0)).as("var_f"), (vo / lit(10000.0)).as("var_o"),
        ((mf - mo) / sqrt(se2)).as("t_welch"),
        (se2 * se2 / ((vf / nf) * (vf / nf) / (nf - lit(1.0))
          + (vo / no) * (vo / no) / (no - lit(1.0)))).as("dof"))
    },
    Some(s"""WITH o AS (SELECT o_orderstatus,
    ${centsSql("o_totalprice")} AS xc FROM orders),
g AS (SELECT
    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN xc END) AS DOUBLE) AS sx_f,
    ${hiLoSumsSql("CASE WHEN o_orderstatus = 'F' THEN xc * xc END", "f")},
    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN xc END) AS DOUBLE) AS sx_o,
    ${hiLoSumsSql("CASE WHEN o_orderstatus = 'O' THEN xc * xc END", "o")}
  FROM o),
c AS (SELECT n_f, n_o,
    sx_f / CAST(n_f AS DOUBLE) AS mc_f,
    sx_o / CAST(n_o AS DOUBLE) AS mc_o,
    (${hiLoCloseSql("f")} - sx_f * sx_f / CAST(n_f AS DOUBLE)) / (CAST(n_f AS DOUBLE) - 1.0) AS vc_f,
    (${hiLoCloseSql("o")} - sx_o * sx_o / CAST(n_o AS DOUBLE)) / (CAST(n_o AS DOUBLE) - 1.0) AS vc_o
  FROM g)
SELECT n_f, n_o, mc_f / 100.0 AS mean_f, mc_o / 100.0 AS mean_o,
  vc_f / 10000.0 AS var_f, vc_o / 10000.0 AS var_o,
  (mc_f - mc_o) / sqrt(vc_f / n_f + vc_o / n_o) AS t_welch,
  (vc_f / n_f + vc_o / n_o) * (vc_f / n_f + vc_o / n_o)
    / ((vc_f / n_f) * (vc_f / n_f) / (CAST(n_f AS DOUBLE) - 1.0)
      + (vc_o / n_o) * (vc_o / n_o) / (CAST(n_o AS DOUBLE) - 1.0)) AS dof
FROM c"""))

  /** Theil T inequality index with between/within decomposition (§2.4
    * ext) — the additively DECOMPOSABLE concentration measure next to
    * agg_hhi_gini: how unequal are order values, and how much of that
    * inequality lives BETWEEN priority classes vs WITHIN them
    * (T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ), s_g the value share). The
    * decomposability is the analytic point — Gini does not decompose.
    *
    * Float discipline: group sums are [[H.dsum]]-exact; means and shares
    * are identical IEEE divisions; every ln-bearing term (per-row
    * (x/μ_g)·ln(x/μ_g), group-grain s_g·ln(μ_g/μ), s_g·T_g) quantizes at
    * [[H.q6]] and sums as exact DECIMAL ([[H.dec6Sum]]) — the entropy-key
    * libm discipline.
    *
    * Scale shape: one corpus pass for the group sufficient statistics;
    * the 5-row group frame broadcasts back onto the rows for the within
    * terms (one more corpus pass, map-side agg); between/total close at
    * GROUP grain.
    */
  private val aggTheilIndex = Q(
    "agg_theil_index",
    (s, d) => {
      val o = T.orders(s, d).select(col("o_orderpriority").as("prio"),
        col("o_totalprice").as("x"))
      val g = o.groupBy("prio")
        .agg(count(lit(1)).as("n_g"), dsum(col("x")).as("sx_g"))
        .withColumn("mean_g", col("sx_g") / col("n_g"))
      val tot = o.agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"))
        .withColumn("mean", col("sx") / col("n"))
      val within = o.join(broadcast(g), "prio")
        .select(col("prio"),
          q6((col("x") / col("mean_g")) * log(col("x") / col("mean_g")))
            .as("t"))
        .groupBy("prio").agg(dec6Sum(col("t")).as("st"))
      val gf = g.join(within, "prio").crossJoin(broadcast(tot))
        .select(col("prio"), col("n_g"), col("mean_g"),
          (col("sx_g") / col("sx")).as("share"),
          (col("st") / col("n_g").cast("double")).as("t_within"))
      val closing = gf.crossJoin(broadcast(tot.select(col("mean"))))
        .agg(
          dec6Sum(q6(col("share") * col("t_within"))).as("within_mix"),
          dec6Sum(q6(col("share") * log(col("mean_g") / col("mean"))))
            .as("between_groups"))
        .select(col("within_mix"), col("between_groups"),
          (col("within_mix") + col("between_groups")).as("theil_total"))
      gf.crossJoin(broadcast(closing))
        .select(col("prio"), col("n_g"), col("mean_g"), col("share"),
          col("t_within"), col("between_groups"), col("theil_total"))
        .orderBy("prio")
    },
    Some(s"""WITH o AS (SELECT o_orderpriority AS prio, o_totalprice AS x
  FROM orders),
g AS (SELECT prio, count(*) AS n_g, ${dsumSql("x")} AS sx_g FROM o GROUP BY 1),
gm AS (SELECT prio, n_g, sx_g, sx_g / n_g AS mean_g FROM g),
t AS (SELECT count(*) AS n, ${dsumSql("x")} AS sx FROM o),
tm AS (SELECT n, sx, sx / n AS mean FROM t),
w AS (SELECT prio, ${dec6SumSql(q6Sql("(x / mean_g) * ln(x / mean_g)"))} AS st
  FROM o JOIN gm USING (prio) GROUP BY 1),
gf AS (SELECT prio, n_g, mean_g, sx_g / sx AS share,
    st / CAST(n_g AS DOUBLE) AS t_within
  FROM gm JOIN w USING (prio), tm),
c AS (SELECT ${dec6SumSql(q6Sql("share * t_within"))} AS within_mix,
    ${dec6SumSql(q6Sql("share * ln(mean_g / mean)"))} AS between_groups
  FROM gf, tm)
SELECT prio, n_g, mean_g, share, t_within,
  between_groups, within_mix + between_groups AS theil_total
FROM gf, c ORDER BY prio"""))

  /** Benford first-digit conformance (§2.4 ext) — the forensic data-quality
    * screen: does o_totalprice's leading-digit distribution follow
    * log10(1 + 1/d)? Emits per-digit observed count/share vs expectation
    * plus the mean absolute deviation (the standard Benford MAD score).
    *
    * Engine portability: the first digit is extracted with INTEGER
    * arithmetic, never libm — exact cents (DECIMAL(12,2) × 100 → BIGINT),
    * then `cents div 10^(strlen(cents)−1)`; decimal string length of a
    * BIGINT is identical in both engines, and pow(10, k≤15) is exact in
    * double before the BIGINT cast. log10 appears ONLY in the 9-row
    * expectation table and is rounded ([[H.r4]], strictly positive
    * domain) before any downstream arithmetic, so libm ulp divergence
    * cannot propagate; shares are exact count ratios (RAW); the MAD sum
    * runs [[H.dec6Sum]]+[[H.q6]] over 9 rows.
    *
    * Scale shape: one map-side-combinable 9-group agg over the corpus;
    * everything after is digit-grain (9 rows).
    */
  private val aggBenford = Q(
    "agg_benford",
    (s, d) => {
      val cents = (m2(col("o_totalprice")) * lit(100))
        .cast("long")
      val digit = expr(
        "cents div cast(pow(10, length(cast(cents as string)) - 1) as bigint)")
      val obs = T.orders(s, d)
        .select(cents.as("cents"))
        .select(digit.as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum("n_obs").as("n_tot"))
      val e = obs.crossJoin(broadcast(tot))
        .withColumn("share", col("n_obs").cast("double") / col("n_tot"))
        .withColumn("expected", r4(log(10.0,
          lit(1.0) + lit(1.0) / col("digit").cast("double"))))
        .withColumn("abs_dev", abs(col("share") - col("expected")))
      val mad = e.agg((dec6Sum(q6(col("abs_dev"))) / lit(9.0)).as("mad"))
      e.select(col("digit"), col("n_obs"), col("share"), col("expected"),
          col("abs_dev"))
        .crossJoin(broadcast(mad))
        .orderBy("digit")
    },
    Some(s"""WITH c AS (SELECT CAST(${m2Sql("o_totalprice")} * 100 AS BIGINT) AS cents
  FROM orders),
obs AS (SELECT cents // CAST(pow(10, length(CAST(cents AS VARCHAR)) - 1) AS BIGINT) AS digit,
    count(*) AS n_obs
  FROM c GROUP BY 1),
t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM obs),
e AS (SELECT digit, n_obs,
    CAST(n_obs AS DOUBLE) / n_tot AS share,
    round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4) AS expected
  FROM obs, t),
e2 AS (SELECT digit, n_obs, share, expected,
    abs(share - expected) AS abs_dev FROM e),
m AS (SELECT ${dec6SumSql(q6Sql("abs_dev"))} / 9.0 AS mad FROM e2)
SELECT digit, n_obs, share, expected, abs_dev, mad
FROM e2, m ORDER BY digit"""))

  /** SQL-callable metric surface (§2.1 ext, r11) — the
    * [[graft.api.Sql.registerFts]] temp-view catalog exercised THROUGH
    * `spark.sql`, under the verify gate: the consumer writes plain SQL
    * against `fts_success_rate` (a registered lazy view over the
    * [[graft.api.Fts.successRate]] builder) with its own predicate and
    * projection, and the oracle reproduces the whole thing from the raw
    * events table — proving the view face returns exactly the builder
    * semantics AND that Catalyst inlines the view (the consumer predicate
    * pushes through to the scan; ApiSpec pins the pushed filter).
    *
    * Scale shape: identical to agg_success_rate's (the view stores a plan,
    * not data) — one map-side-combinable hash agg over the filtered scan.
    */
  private val sqlViewSurface = Q(
    "sql_view_surface",
    (s, d) => {
      graft.api.Sql.registerFts(T.events(s, d))
      s.sql("""SELECT user_id, n_events, n_errors, error_rate, success_rate
               FROM fts_success_rate WHERE user_id % 10 = 0
               ORDER BY user_id""")
    },
    Some("""SELECT user_id, count(*) AS n_events,
count(*) FILTER (WHERE event_type = 'error') AS n_errors,
count(*) FILTER (WHERE event_type = 'error') / count(*) AS error_rate,
1 - count(*) FILTER (WHERE event_type = 'error') / count(*) AS success_rate
FROM events WHERE user_id % 10 = 0
GROUP BY user_id ORDER BY user_id"""))

  /** PARAMETERIZED SQL table function (§2.13 ext, r12) — the second half
    * of the SQL face [[sqlViewSurface]] leaves open: temp views bind their
    * parameters at REGISTRATION, but a SQL-resident consumer (dashboard
    * templates, JDBC tooling) wants per-call parameters. Spark 4's SQL
    * table functions (`CREATE TEMPORARY FUNCTION … RETURNS TABLE … RETURN
    * SELECT`) close that gap natively — the function body is a plan
    * template Catalyst inlines AT THE CALL SITE with the argument
    * substituted, so a `WHERE price >= param` lands in the parquet scan's
    * pushed filters exactly like a hand-written literal (PlanSpec pins the
    * pushed filter; no UDF boundary, no driver round-trip). The key
    * registers an order-stats TVF over the orders view and calls it with a
    * price floor; the oracle reproduces the call-site-inlined query from
    * the raw table.
    *
    * Float discipline: the filter compares the raw parquet DOUBLE to a
    * double literal (bit-identical reads both engines); the revenue sum
    * accumulates exact via [[H.m2]]-cast DECIMAL and converts to double
    * once (correct rounding both engines).
    */
  private val sqlTvfParams = Q(
    "sql_tvf_params",
    (s, d) => {
      T.orders(s, d).createOrReplaceTempView("graft_orders_tvf")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_order_stats(
                 min_price DOUBLE)
               RETURNS TABLE (o_orderstatus STRING, n_orders BIGINT,
                 sum_price DOUBLE)
               RETURN SELECT o_orderstatus, count(*) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
               FROM graft_orders_tvf
               WHERE o_totalprice >= min_price
               GROUP BY o_orderstatus""")
      s.sql("""SELECT * FROM graft_order_stats(150000.0D)
               ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders WHERE o_totalprice >= 150000.0
GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Rank-trimmed (10 %) mean — the robust location estimate that, unlike
    * the winsorized/percentile forms, needs NO interpolated quantile (the
    * engine-divergent path [[aggMadOutliers]] documents): per return flag,
    * rank rows by price, drop the lowest and highest ⌊n/10⌋ ranks, and
    * average the exact-cents remainder. Rows tied at a cut boundary are
    * VALUE-identical, so whichever physical rows the two engines' ranks
    * keep, the kept multiset — and the exact integer sum — is the same:
    * fully deterministic with zero float rounding until the one closing
    * division. Emits (flag, n_rows, n_kept, mean_all, mean_trimmed) — the
    * all-rows mean beside it shows how far the tails drag.
    *
    * Scale shape (r17): NO fact-grain rank window — the r13–r16 form ran
    * `row_number()` partitioned on the THREE-VALUE flag over every fact
    * row (the whole group through one reducer, the shape win_ntile/
    * agg_hhi_gini were rewritten to kill; this key's old scaladoc punted
    * to an approx swap at scale). The corpus collapses to (flag, DISTINCT
    * cents) grain via the shared two-stage prefix sum
    * ([[graft.api.Fts.cumulativeCounts2]]); a value's rank RANGE is
    * [cum−c+1, cum], so the kept-row count per value is the exact overlap
    * of that range with (cut, n−cut] — all exact LONG arithmetic,
    * bit-identical to the per-row rank filter (ties at a cut boundary are
    * value-identical either way), so the oracle keeps its window SQL and
    * the hash is unchanged. No approximation needed after all.
    */
  private val aggTrimmedMean = Q(
    "agg_trimmed_mean",
    (s, d) => {
      val c = T.lineitem(s, d).select(col("l_returnflag").as("flag"),
        cents(col("l_extendedprice")).as("yc"))
      // r18 constant shave (the r17 verdict's ask #4): the value-grain
      // pre-aggregate is built HERE and cached (it feeds the cuts sketch,
      // the bucketed fold, and the per-flag totals), the per-flag total is
      // Σ c1 over it (NOT max(cum1) off the prefix-sum output — that made
      // the output two-consumer), and the prefix-sum output now streams
      // UNCACHED into its single aggregate consumer: one 595 k-row cache
      // materialization instead of two.
      val pre = graft.api.Caches.cache(c.groupBy(col("flag"), col("yc"))
        .agg(count(lit(1)).as("c1")))
      val ngs = pre.groupBy("flag").agg(sum(col("c1")).as("n"))
      val pg = graft.api.Fts.cumulativeCounts2Pre(
        pre.withColumn("c2", lit(0L)), "flag", "yc", 32, None)
      val cut = floor(col("n") / 10)
      val kept = greatest(lit(0L),
        least(col("cum1"), col("n") - cut)
          - greatest(col("cum1") - col("c1") + 1, cut + 1) + 1)
      pg.join(broadcast(ngs), "flag")
        .groupBy(col("flag").as("l_returnflag"))
        .agg(
          max(col("n")).as("n_rows"),
          sum(kept).as("n_kept"),
          (sum(col("yc") * col("c1")).cast("double") / max(col("n"))
            / lit(100.0)).as("mean_all"),
          (sum(col("yc") * kept).cast("double") / sum(kept)
            / lit(100.0)).as("mean_trimmed"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH c AS (SELECT l_returnflag AS flag,
    ${centsSql("l_extendedprice")} AS yc FROM lineitem),
rk AS (SELECT flag, yc,
    row_number() OVER (PARTITION BY flag ORDER BY yc) AS rn,
    count(*) OVER (PARTITION BY flag) AS n FROM c),
g AS (SELECT flag, max(n) AS n_rows,
    sum(CASE WHEN rn > floor(n / 10) AND rn <= n - floor(n / 10)
        THEN 1 ELSE 0 END) AS n_kept,
    CAST(sum(yc) AS DOUBLE) / max(n) / 100.0 AS mean_all,
    CAST(sum(CASE WHEN rn > floor(n / 10) AND rn <= n - floor(n / 10)
        THEN yc ELSE 0 END) AS DOUBLE)
      / sum(CASE WHEN rn > floor(n / 10) AND rn <= n - floor(n / 10)
        THEN 1 ELSE 0 END) / 100.0 AS mean_trimmed
  FROM rk GROUP BY flag)
SELECT flag AS l_returnflag, n_rows, CAST(n_kept AS BIGINT) AS n_kept,
  mean_all, mean_trimmed
FROM g ORDER BY l_returnflag"""))

  /** Winsorized mean per return flag (§2.4 ext, r13) — [[aggTrimmedMean]]'s
    * clamping sibling: instead of DROPPING the 10 % rank tails, every value
    * outside the [p10, p90] rank boundaries is CLAMPED to the boundary
    * VALUE (the estimator that keeps n constant — the robust mean used when
    * row weights must be preserved). Boundary values are rank-selected
    * (`rn = floor(n/10)+1` and `rn = n−floor(n/10)`), so they are
    * value-deterministic under boundary ties (tied rows are
    * value-identical) and involve ZERO quantile interpolation — the
    * engine-divergent path both robust-mean keys deliberately avoid.
    * Emits the boundary cents beside both means so the gate pins the
    * clamp inputs, not just the close.
    *
    * Float discipline: values are exact cents; the clamp is pure
    * comparison; both means are one double division of exact ints → RAW.
    * Scale shape (r17): NO fact-grain rank window (the aggTrimmedMean
    * rewrite, shared machinery) — the corpus collapses to (flag, DISTINCT
    * cents) grain once, a boundary RANK r is located as the unique value
    * whose inclusive rank range [cum−c+1, cum] contains r, and the
    * clamped sum re-weights each distinct value by its multiplicity —
    * all exact LONGs, bit-identical to the per-row form (boundary-tied
    * rows are value-identical), oracle SQL and hash unchanged.
    */
  private val aggWinsorizedMean = Q(
    "agg_winsorized_mean",
    (s, d) => {
      val c = T.lineitem(s, d).select(col("l_returnflag").as("flag"),
        cents(col("l_extendedprice")).as("yc"))
      // r18 constant shave (the aggTrimmedMean restructure): the cached
      // value-grain pre-aggregate serves the cuts sketch, the bucketed
      // fold, the per-flag totals, AND the closing clamp aggregate (which
      // needs only (yc, c1), never cum) — so the prefix-sum output has ONE
      // consumer (the boundary-rank locator) and streams uncached.
      val pre = graft.api.Caches.cache(c.groupBy(col("flag"), col("yc"))
        .agg(count(lit(1)).as("c1")))
      val ngs = pre.groupBy("flag").agg(sum(col("c1")).as("n"))
      val pg = graft.api.Fts.cumulativeCounts2Pre(
        pre.withColumn("c2", lit(0L)), "flag", "yc", 32, None)
      def atRank(r: org.apache.spark.sql.Column) =
        max(when(col("cum1") - col("c1") + 1 <= r && r <= col("cum1"),
          col("yc")))
      val bounds = pg.join(broadcast(ngs), "flag")
        .groupBy("flag")
        .agg(max(col("n")).as("n_rows"),
          atRank(floor(col("n") / 10) + 1).as("lo_c"),
          atRank(col("n") - floor(col("n") / 10)).as("hi_c"))
      pre.join(broadcast(bounds), "flag")
        .groupBy(col("flag").as("l_returnflag"))
        .agg(max(col("n_rows")).as("n_rows"),
          max(col("lo_c")).as("lo_c"),
          max(col("hi_c")).as("hi_c"),
          (sum(col("yc") * col("c1")).cast("double") / max(col("n_rows"))
            / lit(100.0)).as("mean_all"),
          (sum(least(greatest(col("yc"), col("lo_c")), col("hi_c"))
              * col("c1"))
            .cast("double") / max(col("n_rows")) / lit(100.0))
            .as("mean_winsor"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH c AS (SELECT l_returnflag AS flag,
    ${centsSql("l_extendedprice")} AS yc FROM lineitem),
rk AS (SELECT flag, yc,
    row_number() OVER (PARTITION BY flag ORDER BY yc) AS rn,
    count(*) OVER (PARTITION BY flag) AS n FROM c),
b AS (SELECT flag, max(n) AS n_rows,
    max(CASE WHEN rn = floor(n / 10) + 1 THEN yc END) AS lo_c,
    max(CASE WHEN rn = n - floor(n / 10) THEN yc END) AS hi_c
  FROM rk GROUP BY flag)
SELECT c.flag AS l_returnflag, max(n_rows) AS n_rows,
  max(lo_c) AS lo_c, max(hi_c) AS hi_c,
  CAST(sum(yc) AS DOUBLE) / max(n_rows) / 100.0 AS mean_all,
  CAST(sum(least(greatest(yc, lo_c), hi_c)) AS DOUBLE) / max(n_rows) / 100.0
    AS mean_winsor
FROM c JOIN b ON c.flag = b.flag GROUP BY 1 ORDER BY 1"""))

  /** Quantile normalization across groups (§2.4 ext, r13) — the
    * feature-preprocessing standard (microarray lineage, now ML feature
    * pipelines): every value maps to the GLOBAL distribution's value at
    * its own within-group quantile position, making the per-group
    * marginal distributions identical while preserving within-group
    * order. Mapping is pure integer rank arithmetic — target global rank
    * `ceil(rn·N / n_g)` — over exact cent values: NO floats anywhere in
    * the output (the one engine-safe way to express quantile mapping;
    * interpolating normalizers are the cross-engine divergence this key
    * avoids). Emits the (group, value, normalized value) rows.
    *
    * Tie determinism: row_number over equal values assigns arbitrary rank
    * ORDER, but the emitted MULTISET is tie-invariant (tied rows swap
    * identical (flag, yc) prefixes over the same normalized-value set),
    * and rank→value lookup on the global side lands inside a tied run of
    * identical values — so the sorted output is engine-deterministic with
    * no tiebreak columns. That tie-invariance is exactly what makes the
    * two-stage form below EXACT, not approximate: a tied run of `cnt`
    * equal values occupies the consecutive rank range
    * (cum−cnt+1 … cum), so regenerating per-row ranks from the
    * distinct-value grain (`explode(sequence(...))`) reproduces the
    * row_number multiset bit-for-bit.
    *
    * Scale shape (r14 — the verdict's top ask, killing the repo's last
    * fact-grain global sort): BOTH rank windows are gone. Per-group and
    * global positional ranks come from
    * [[graft.api.Fts.cumulativeCounts2]]'s two-stage bucketed prefix sum
    * at DISTINCT-VALUE grain (the only windows partition on (key, bucket)
    * — PlanSpec pins no unpartitioned/flag-only WindowExec), per-row ranks
    * are regenerated by a distributed sequence-explode over the tied runs,
    * and the rank→global-value lookup is the same gr-keyed equi-join as
    * before. Group totals (3 rows) and the corpus total (1 row) ride
    * broadcast joins — nothing ever funnels a fact-grain frame through one
    * reducer; the closing orderBy is a range-partitioned presentation
    * sort, not a single-partition window. 100 TB posture: every stage is
    * value-grain or map-side; a deployment wanting sub-exact cost can
    * still swap approx-quantile grids, but no longer has to.
    */
  private val aggQuantileNormalize = Q(
    "agg_quantile_normalize",
    (s, d) => {
      val c = T.lineitem(s, d).select(col("l_returnflag").as("flag"),
        cents(col("l_extendedprice")).as("yc"))
      // ONE fact pass (r16, the r15 verdict's shared-cuts ask): the corpus
      // collapses to (flag, DISTINCT yc) grain once, cached; ONE
      // equi-depth cuts sketch over that cached value-grain frame then
      // serves BOTH cumulativeCounts2 calls as a literal array (bucketing
      // only needs monotonicity, so global cuts are valid for the per-flag
      // pass too) — the r15 form paid the percentile aggregate per call.
      val preG = graft.api.Caches.cache(c.groupBy(col("flag"), col("yc"))
        .agg(count(lit(1)).as("cnt")))
      val cuts = Some(graft.api.Fts.equiDepthCuts(preG, "yc"))
      // per-group: one row per (flag, DISTINCT yc) with its multiplicity and
      // inclusive cumulative count — rank range (cum-cnt+1 … cum]. Cached:
      // three consumers (group totals, the rank explode, and the global
      // side, which re-aggregates THIS value-grain frame instead of paying
      // a second fact-table scan + fact-grain pre-aggregate).
      // preG is ALREADY the (flag, DISTINCT yc) pre-aggregate — feed it to
      // the prefix-sum machinery directly (r17, cumulativeCounts2Pre):
      // the generic entry point would re-shuffle and re-cache a second
      // copy of this near-fact-grain frame for a no-op re-aggregation
      val pg = graft.api.Caches.cache(
        graft.api.Fts.cumulativeCounts2Pre(
            preG.select(col("flag"), col("yc"), col("cnt").as("c1"),
              lit(0L).as("c2")),
            "flag", "yc", 32, cuts)
          .select(col("flag"), col("yc"), col("c1").as("cnt"),
            col("cum1").as("cum")))
      // per-flag totals off the cached value-grain preG (Σ cnt), not off
      // pg — keeps pg's consumers to the two rank regenerators (r18)
      val ngs = preG.groupBy("flag").agg(sum(col("cnt")).as("ng"))
      val tot = ngs.agg(sum(col("ng")).as("nn"))
      // rank-range regeneration is CHUNKED (r14 review): a naive
      // explode(sequence(lo, hi)) materializes a tie run as ONE in-memory
      // array — a billion-row tied value would allocate gigabytes in a
      // single row (and sequence() hard-errors past 2^31 elements). The
      // outer explode fans a run into ≤64k-element chunks first, so
      // per-row allocation is bounded regardless of tie-run size.
      def rankExplode(lo: org.apache.spark.sql.Column,
          cnt: org.apache.spark.sql.Column)
          : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
        val ch = 65536L
        // floor of an exact-long double quotient: exact for cnt < 2^53
        (explode(sequence(lit(0L),
          floor((cnt - 1) / lit(ch)).cast("long"))).as("chunk"),
          explode(sequence(lo + col("chunk") * lit(ch),
            least(lo + (col("chunk") + 1) * lit(ch) - 1, lo + cnt - 1)))
            .as("rn"))
      }
      // rn·nn ≤ 2^53 keeps the double quotient exact-or-safely-off-integer
      // (integer quotients are exact; non-integer ones sit ≥ 1/ng from an
      // integer, far past one ulp), so ceil agrees across engines.
      // cnt==1 FAST PATH (r18, the r17 verdict's ask #4): prices are
      // near-unique, so ~99% of value rows are untied — their "rank range"
      // is the single rank `cum`, which needs NO sequence-explode at all.
      // Only the tied tail (cnt > 1) pays the chunked two-layer explode;
      // the union's multiset is identical by construction (a cnt==1 run
      // explodes to exactly its own cum).
      val (tChunk, tRn) = rankExplode(col("cum") - col("cnt") + 1, col("cnt"))
      val tBase = pg.join(broadcast(ngs), "flag").crossJoin(broadcast(tot))
      val tSingle = tBase.filter(col("cnt") === 1)
        .select(col("flag"), col("yc"), col("ng"), col("nn"),
          col("cum").as("rn"))
      val tMulti = tBase.filter(col("cnt") > 1)
        .select(col("flag"), col("yc"), col("ng"), col("nn"), col("cum"),
          col("cnt"), tChunk)
        .select(col("flag"), col("yc"), col("ng"), col("nn"), tRn)
      val t = tSingle.unionByName(tMulti)
        .select(col("flag"), col("yc"),
          ceil((col("rn") * col("nn")) / col("ng")).cast("long").as("gr"))
      // global: same two-stage ranks over the whole value column (constant
      // key), per-rank values regenerated the same way (cnt==1 fast path
      // included); the global per-value multiplicity is Σ over flags of the
      // cached per-group counts. Cached: the two fast-path branches would
      // otherwise each re-run the global prefix sum.
      val (gChunk, gRn) = rankExplode(col("cum1") - col("c1") + 1, col("c1"))
      val gcc = graft.api.Caches.cache(graft.api.Fts.cumulativeCounts2(
          pg.select(col("yc"), col("cnt")).withColumn("gk", lit(0)), "gk",
          "yc", col("cnt"), lit(0L), 32, cuts)
        .select(col("yc").as("norm_c"), col("cum1"), col("c1")))
      val gv = gcc.filter(col("c1") === 1)
        .select(col("norm_c"), col("cum1").as("gr"))
        .unionByName(gcc.filter(col("c1") > 1)
          .select(col("norm_c"), col("cum1"), col("c1"), gChunk)
          .select(col("norm_c"), gRn)
          .select(col("norm_c"), col("rn").as("gr")))
      t.join(gv, "gr")
        .select(col("flag").as("l_returnflag"), col("yc").as("yc_c"),
          col("norm_c"))
        .orderBy("l_returnflag", "yc_c", "norm_c")
    },
    Some(s"""WITH c AS (SELECT l_returnflag AS flag,
    ${centsSql("l_extendedprice")} AS yc FROM lineitem),
g AS (SELECT flag, yc,
    row_number() OVER (PARTITION BY flag ORDER BY yc) AS rn,
    count(*) OVER (PARTITION BY flag) AS ng,
    count(*) OVER () AS nn FROM c),
gv AS (SELECT yc AS norm_c, row_number() OVER (ORDER BY yc) AS gr FROM c),
t AS (SELECT flag, yc, CAST(ceil((rn * nn) / ng) AS BIGINT) AS gr FROM g)
SELECT flag AS l_returnflag, t.yc AS yc_c, norm_c
FROM t JOIN gv ON t.gr = gv.gr
ORDER BY l_returnflag, yc_c, norm_c"""))

  val all: Seq[Q] = Seq(
    sqlTvfParams, aggTrimmedMean, aggWinsorizedMean, aggQuantileNormalize,
    sqlViewSurface,
    aggProblemLinks, aggEntropy, aggHhiGini, aggRankMovers, aggChi2,
    aggCramersV, aggKsTest,
    aggBootstrapCi, aggSpearman, aggMannWhitney, aggWelchTtest, aggBenford,
    aggTheilIndex,
    srcParquetScan, srcCsvRoundtrip, srcOrcRoundtrip, srcJsonLines,
    srcUnionPartitions,
    projSelectAlias, filtConjunctive, filtInBetweenLike, filtNullSemantics,
    filtSubqueryScalar, filtSubqueryExists, projDistinct, joinLateralTopn,
    joinRelationalDivision, joinNullSafe, aggBool,
    joinBroadcastInner, joinSortmergeInner, joinStarMultiway, joinLeftOuter,
    joinFullOuter, joinLeftSemi, joinLeftAnti, joinCross, joinThetaRange,
    joinAsof, joinSkewSalted, joinSkewSaltedGeneric, joinBloomPrefilter,
    joinBucketed, joinFuzzy, joinDppPrune,
    srcPartitionedScan, srcProfile,
    aggGlobal, aggGroupbyHash, aggSuccessRate, aggAbTest, aggCountDistinct,
    aggApproxDistinct, aggBitmapDistinct, aggHllMerge, aggHllMergeExact,
    aggHllIntersect,
    aggHllIntersectExact, aggHistQuantileMerge, aggHllSketchTable,
    aggCorrMatrix, aggOlsFit, aggOlsMulti,
    aggGroupingSets, aggRollup, aggCube, aggHaving,
    aggPercentiles, aggApproxPercentiles, aggMadOutliers, aggApproxTopk,
    aggWeightedPercentile, aggStats, aggCollectSorted,
    aggPivot, aggMinmaxBy,
    aggHistogram)
}
