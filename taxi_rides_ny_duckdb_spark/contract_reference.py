"""Reference-parity contract queries (SURVEY.md §2 inventory).

Each query exercises one operator row from SURVEY §2 on the driver's
TPC-H-ish tables, with a DuckDB oracle. Citations point at the
reference file that motivates the operator; the implementation is
Spark-first (SURVEY's "Spark mapping" column), not a translation.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .contract import query
from .functions.macros import payment_type_description, surrogate_key, ts_key
from .functions.parity import davg, dsum
from .sources.registry import load

# ---------------------------------------------------------------------------
# A1-A4 flagship: multi-aggregate hash groupBy (the dm_monthly_zone_revenue
# shape, reference dm_monthly_zone_revenue.sql:6-31, on lineitem — TPC-H Q1).
# ---------------------------------------------------------------------------


@query(
    "a1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark, sf_dir):
    """12-aggregate hash groupBy over the fact table (A1-A4; reference
    dm_monthly_zone_revenue.sql:6-31). Single shuffle on low-cardinality
    keys; partial aggregation collapses the map side; sums/avgs are
    decimal-routed for order-independence (parity.py)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-12-01")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), 18, 2).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), 18, 2).alias("sum_base_price"),
        dsum(disc_price, 18, 4).alias("sum_disc_price"),
        dsum(charge, 18, 6).alias("sum_charge"),
        davg(F.col("l_quantity"), 18, 2).alias("avg_qty"),
        davg(F.col("l_extendedprice"), 18, 2).alias("avg_price"),
        davg(F.col("l_discount"), 18, 2).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# S1 + P + F: scan with filter/projection pushdown.
# ---------------------------------------------------------------------------


@query(
    "s1_scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45
    """,
)
def s1_scan_filter_project(spark, sf_dir):
    """Parquet scan + pushed filter + pruned columns (S1/P1/F-family;
    reference stg_green_tripdata.sql:7-8). `.explain` shows
    PushedFilters: [GreaterThan(l_quantity,45.0)] and a 3-column
    ReadSchema — the scan never materializes the other 8 columns."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "p2_typed_projection",
    oracle="""
    SELECT
      CAST(l_orderkey AS VARCHAR) AS orderkey_str,
      CAST(l_quantity AS INTEGER) AS quantity_int,
      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
      CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS ship_date
    FROM lineitem
    """,
)
def p2_typed_projection(spark, sf_dir):
    """Cast-on-read typed projection (P2/X1; reference
    stg_green_tripdata.sql:10-39 — 17 casts per staging model)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.col("l_quantity").cast("int").alias("quantity_int"),
        # decimal(18,2) semantics, presented as double: the driver's
        # hash compares pandas string forms, and Decimal('96262.50') vs
        # DuckDB's float64 96262.5 mismatch despite identical values
        # (parity-kit convention, see a1_pricing_summary).
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("price_dec"),
        F.date_trunc("day", F.col("l_shipdate")).alias("ship_date"),
    )


# ---------------------------------------------------------------------------
# X2-X5 scalar functions.
# ---------------------------------------------------------------------------


@query(
    "x2_case_decode",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      CASE WHEN l_linenumber = 1 THEN 'Credit card'
           WHEN l_linenumber = 2 THEN 'Cash'
           WHEN l_linenumber = 3 THEN 'No charge'
           WHEN l_linenumber = 4 THEN 'Dispute'
           WHEN l_linenumber = 5 THEN 'Unknown'
           WHEN l_linenumber = 6 THEN 'Voided trip'
      END AS code_description
    FROM lineitem
    """,
)
def x2_case_decode(spark, sf_dir):
    """No-ELSE CASE decode macro (X2; reference
    macros/get_payment_type_description.sql:5-16) — codes outside 1-6
    (l_linenumber=7 here) fall through to NULL."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        payment_type_description(F.col("l_linenumber")).alias("code_description"),
    )


@query(
    "x3_surrogate_key",
    oracle="""
    SELECT o_orderkey,
      md5(
        coalesce(CAST(o_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_')
        || '-' ||
        coalesce(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '_dbt_utils_surrogate_key_null_')
      ) AS order_sk
    FROM orders
    """,
)
def x3_surrogate_key(spark, sf_dir):
    """dbt_utils-compatible md5 surrogate key (X3; reference
    stg_green_tripdata.sql:12) with the pinned timestamp→string
    normalization from SURVEY §1.4."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        surrogate_key(F.col("o_custkey"), ts_key(F.col("o_orderdate"))).alias("order_sk"),
    )


@query(
    "x4_string_replace",
    oracle="""
    SELECT p_partkey, replace(p_brand, 'Brand', 'Make') AS make_brand
    FROM part
    """,
)
def x4_string_replace(spark, sf_dir):
    """Literal string replace (X4; reference dim_zones.sql:8
    replace(service_zone,'Boro','Green'))."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace(F.col("p_brand"), "Brand", "Make").alias("make_brand"),
    )


@query(
    "x5_date_trunc_month",
    oracle="""
    SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month
    FROM orders
    """,
)
def x5_date_trunc_month(spark, sf_dir):
    """Month truncation (X5; reference dm_monthly_zone_revenue.sql:9).
    Calendar buckets are TIMESTAMP on both sides: Spark's date_trunc
    already returns TIMESTAMP; DuckDB's returns DATE at day-or-coarser
    grains, so the oracle casts it up. The shared type keeps the
    pandas comparison representation-identical (r5: the old DATE
    outputs were the source of the pandas date-vs-datetime64
    tolerance, now removed)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
    )


# ---------------------------------------------------------------------------
# W1 + F2: window dedup.
# ---------------------------------------------------------------------------

_W1_COLS = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"]


@query(
    "w1_dedup_row_number",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
             ) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def w1_dedup_row_number(spark, sf_dir):
    """row_number() dedup keeping one row per key (W1+F2; reference
    stg_green_tripdata.sql:5-9,41). The reference's window has no ORDER
    BY (arbitrary survivor); for cross-engine hashing we pin a total
    order over the projected columns so the survivor is deterministic.
    The production staging path keeps the reference's arbitrary-survivor
    window as is (plans/staging.py), planned as a partial/final
    WindowGroupLimit around its exchange.

    Spark-first lowering: ``row_number() ... WHERE rn = 1`` under a
    total order ≡ the lexicographically-min struct per key, so the
    engine plans a hash aggregate with ``min(struct(cols))`` — map-side
    partial combine shrinks the shuffle to one row per key and skips
    the window's full partition sort (~30% faster at sf0.1, and the
    gap widens with duplicates-per-key at scale). The literal window
    form stays exercised by ext_window_rank_family."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", *_W1_COLS)
        .groupBy("l_orderkey")
        .agg(F.min(F.struct(*_W1_COLS)).alias("__s"))
        .select("l_orderkey", "__s.*")
    )


@query(
    "w1_dedup_distinct",
    oracle="SELECT DISTINCT l_suppkey, l_returnflag FROM lineitem",
)
def w1_dedup_distinct(spark, sf_dir):
    """Hash-dedup on a projection (the scale-friendly W1 idiom:
    dropDuplicates ≡ DISTINCT on the projected key set — map-side
    partial dedup, then one shuffle of survivors)."""
    return load(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag").distinct()


# ---------------------------------------------------------------------------
# J1/J2/J3 joins.
# ---------------------------------------------------------------------------


@query(
    "j1_broadcast_dim_join",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j1_broadcast_dim_join(spark, sf_dir):
    """Fact × small-dim inner equi-joins (J1; reference
    fact_trips.sql:54-55): both dims broadcast → zero-shuffle joins, the
    only exchange is the final groupBy."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), 18, 2).alias("total_acctbal"),
        )
    )


@query(
    "j2_dim_joined_twice",
    oracle="""
    SELECT o_orderkey,
           cn.n_name AS customer_nation,
           sn.n_name AS supplier_nation
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE l_linenumber = 1 AND l_partkey < 100
    """,
)
def j2_dim_joined_twice(spark, sf_dir):
    """Same dimension aliased and joined twice (J2; reference
    fact_trips.sql:21-24,56-57 joins dim_zones for pickup AND dropoff).
    nation joins are broadcast; the lineitem↔orders join shuffles on
    orderkey — at 100 TB both sides would be bucketed on orderkey to
    co-locate it."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") == 1) & (F.col("l_partkey") < 100)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("customer_nation")))
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supplier_nation")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .select("o_orderkey", "customer_nation", "supplier_nation")
    )


@query(
    "j3_left_anti",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL)
    """,
)
def j3_left_anti(spark, sf_dir):
    """Left-anti join — the relationships data-quality test shape (J3;
    reference models/staging/schema.yml:55-65): orders with no
    lineitems. plans/dq evaluates the same test as a broadcast left
    join with a miss flag, so it shares its model's single pass."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.join(
        li.select("l_orderkey"), o["o_orderkey"] == li["l_orderkey"], "left_anti"
    ).select("o_orderkey")


# ---------------------------------------------------------------------------
# U1 union + literal tagging (the fact_trips union shape).
# ---------------------------------------------------------------------------


@query(
    "u1_union_all_tagged",
    oracle="""
    SELECT o_orderkey, 'URGENT' AS priority_class, o_totalprice FROM orders
    WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, 'LOW' AS priority_class, o_totalprice FROM orders
    WHERE o_orderpriority = '5-LOW'
    """,
)
def u1_union_all_tagged(spark, sf_dir):
    """UNION ALL of two schema-aligned branches with literal service
    tags (U1+X6; reference fact_trips.sql:3-19 Green/Yellow union).
    unionByName + shared projection = the positional union's safe
    idiom (SURVEY §2.7)."""
    o = load(spark, sf_dir, "orders")

    def side(priority: str, tag: str):
        return o.filter(F.col("o_orderpriority") == priority).select(
            "o_orderkey", F.lit(tag).alias("priority_class"), "o_totalprice"
        )

    return side("1-URGENT", "URGENT").unionByName(side("5-LOW", "LOW"))


# ---------------------------------------------------------------------------
# A6/A7/A8 data-quality aggregations as scalar-count queries.
# ---------------------------------------------------------------------------


@query(
    "a6_unique_violations",
    oracle="""
    SELECT COUNT(*) AS n_duplicate_keys FROM (
      SELECT l_orderkey, l_linenumber
      FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
    )
    """,
)
def a6_unique_violations(spark, sf_dir):
    """dbt `unique` test as an aggregation (A6; reference
    models/staging/schema.yml:35-37)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_duplicate_keys"))
    )


@query(
    "a7_null_count",
    oracle="SELECT COUNT(*) AS n_nulls FROM events WHERE user_id IS NULL",
)
def a7_null_count(spark, sf_dir):
    """dbt `not_null` test as an aggregation (A7; reference
    models/staging/schema.yml:38-39)."""
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("user_id").isNull()).agg(F.count(F.lit(1)).alias("n_nulls"))


@query(
    "a8_accepted_values",
    oracle="""
    SELECT COUNT(*) AS n_violations FROM events
    WHERE event_type IS NOT NULL
      AND event_type NOT IN ('view', 'click', 'purchase', 'signup')
    """,
)
def a8_accepted_values(spark, sf_dir):
    """dbt `accepted_values` test as an aggregation (A8; reference
    models/staging/schema.yml:86-93; value list from dbt var,
    dbt_project.yml:42-43). 'error' is deliberately outside the list so
    the violation count is nonzero."""
    e = load(spark, sf_dir, "events")
    ok = ["view", "click", "purchase", "signup"]
    return e.filter(
        F.col("event_type").isNotNull() & ~F.col("event_type").isin(ok)
    ).agg(F.count(F.lit(1)).alias("n_violations"))


# ---------------------------------------------------------------------------
# Sorts / limits (SURVEY §2.8) and the SQL entry point (S5).
# ---------------------------------------------------------------------------


@query(
    "o1_topn_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def o1_topn_orders(spark, sf_dir):
    """ORDER BY + LIMIT top-n (SURVEY §2.8). The order is total
    (price desc, key asc) so the selected SET is deterministic — the
    driver's hash is order-insensitive but the rows must be the same.
    Spark plans this as TakeOrderedAndProject: per-partition top-10,
    then a 10-row merge on the driver — no global sort at any scale."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "s5_sql_entrypoint",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'O'
    GROUP BY n_name
    """,
)
def s5_sql_entrypoint(spark, sf_dir):
    """The SQL API surface (S5; reference executes compiled SQL text
    against its catalog, profiles.yml:5-7): register sources as views,
    run one SQL statement. Catalyst treats it identically to the
    DataFrame plans — same pushdown, same broadcast."""
    from .sources.registry import register_all

    register_all(spark, sf_dir, tables=("orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderstatus = 'O'
        GROUP BY n_name
        """
    )


# ---------------------------------------------------------------------------
# Profiler (PipeRider analog, SURVEY §3.3).
# ---------------------------------------------------------------------------


@query(
    "prof_lineitem_numeric",
    oracle="""
    WITH u AS (
      SELECT 'l_quantity' AS column_name, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
    )
    SELECT column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(value) AS n_null,
           COUNT(DISTINCT value) AS n_distinct,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(value) AS mean_value
    FROM u GROUP BY column_name
    """,
)
def prof_lineitem_numeric(spark, sf_dir):
    """Single-pass numeric profile of 4 lineitem columns (PipeRider
    profiling analog, reference README.md:79-92): unpivot + one groupBy
    instead of one scan per column."""
    from .plans.profile import profile_numeric

    li = load(spark, sf_dir, "lineitem")
    return profile_numeric(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


@query(
    "prof_documents_text",
    oracle="""
    WITH u AS (
      SELECT 'text' AS column_name, CAST(text AS VARCHAR) AS value FROM documents
      UNION ALL
      SELECT 'lang', CAST(lang AS VARCHAR) FROM documents
      UNION ALL
      SELECT 'source', CAST(source AS VARCHAR) FROM documents
    )
    SELECT column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(value) AS n_null,
           COUNT(DISTINCT value) AS n_distinct,
           CAST(MIN(length(value)) AS INTEGER) AS min_len,
           CAST(MAX(length(value)) AS INTEGER) AS max_len,
           CAST(SUM(length(value)) AS DOUBLE) / COUNT(value) AS mean_len,
           CAST(SUM(CASE WHEN trim(value) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
    FROM u GROUP BY column_name
    """,
)
def prof_documents_text(spark, sf_dir):
    """String-column profile of the documents table (PipeRider varchar
    stats; plans/profile.profile_text): lengths aggregate instead of
    values, so the agg buffer never holds document bodies — the mean is
    an exact integer-sum ratio, engine-stable."""
    from .plans.profile import profile_text

    d = load(spark, sf_dir, "documents")
    return profile_text(d, ["text", "lang", "source"])


@query(
    "prof_lineitem_approx_guarded",
    oracle="""
    SELECT 'l_quantity' AS column_name,
           COUNT(l_quantity) AS n_rows,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
           TRUE AS distinct_in_bound,
           TRUE AS median_in_bound
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(l_extendedprice),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE),
           TRUE, TRUE
    FROM lineitem
    """,
)
def prof_lineitem_approx_guarded(spark, sf_dir):
    """The sketch profile UNDER ORACLE (VERDICT r4 #3 / r5 #6): the
    production 100 TB sketch scan — ``plans/profile.profile_approx``,
    executed verbatim as this query's sketch pass — plus exact
    n/min/max value-matched against DuckDB, and the two sketches
    asserted WITHIN THEIR PUBLISHED GUARANTEES as deterministic
    booleans — approx_count_distinct within 3×rsd (15%) of the exact
    distinct count, approx median inside the exact [p40, p60] band
    (band from distributed selection, independent of the sketch).
    The oracle declares the guards literal TRUE: a sketch that ever
    left its bound would flip the boolean and fail the value-hash.
    This closes the evidence gap on the approx path without
    pretending DuckDB can replay an HLL++ register array; the former
    rows-only ``prof_lineitem_approx`` slot is retired — every
    contract query is now fully oracled (zero rows-only)."""
    from .plans.profile import profile_approx_guarded

    li = load(spark, sf_dir, "lineitem")
    return profile_approx_guarded(li, ["l_quantity", "l_extendedprice"])


# ---------------------------------------------------------------------------
# A5 metric compiler on testdata (average with filters over month grain).
# ---------------------------------------------------------------------------


@query(
    "a5_metric_avg_month",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS period_month,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_returned_qty
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    GROUP BY 1
    """,
)
def a5_metric_avg_month(spark, sf_dir):
    """dbt-metric: calculation_method=average, grain=month, two equality
    filters (A5+F4; reference README.md:228-242,286-308) — compiled by
    plans/metrics.py, the same code path as the taxi metric."""
    from .plans.metrics import Metric, MetricFilter, compile_metric

    li = load(spark, sf_dir, "lineitem")
    m = Metric(
        name="avg_returned_qty",
        calculation_method="average",
        expression="l_quantity",
        timestamp="l_shipdate",
        time_grains=("month",),
        filters=(
            MetricFilter("l_returnflag", "=", "R"),
            MetricFilter("l_linestatus", "=", "F"),
        ),
    )
    return compile_metric(li, m, "month")


@query(
    "a5_metric_count_distinct_quarter",
    oracle="""
    SELECT CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS period_quarter,
           o_orderstatus,
           COUNT(DISTINCT o_custkey) AS active_customers
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY 1, 2
    """,
)
def a5_metric_count_distinct_quarter(spark, sf_dir):
    """dbt-metric surface beyond the reference's `average`:
    count_distinct at quarter grain with a dimension and a range filter
    (A5 full method matrix, reference README.md:228-242)."""
    from .plans.metrics import Metric, MetricFilter, compile_metric

    o = load(spark, sf_dir, "orders")
    m = Metric(
        name="active_customers",
        calculation_method="count_distinct",
        expression="o_custkey",
        timestamp="o_orderdate",
        time_grains=("quarter",),
        dimensions=("o_orderstatus",),
        filters=(MetricFilter("o_totalprice", ">", 1000),),
    )
    return compile_metric(o, m, "quarter")


@query(
    "a5_metric_sum_week",
    oracle="""
    SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS period_week,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS weekly_revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def a5_metric_sum_week(spark, sf_dir):
    """dbt-metric method matrix: sum at week grain (ISO Monday
    truncation agrees across engines). The expression routes through
    DECIMAL(18,6) so the sum is order-independent — a double sum would
    hash-differ between engines by accumulation order."""
    from .plans.metrics import Metric, MetricFilter, compile_metric

    o = load(spark, sf_dir, "orders")
    m = Metric(
        name="weekly_revenue",
        calculation_method="sum",
        expression="CAST(o_totalprice AS DECIMAL(18,6))",
        timestamp="o_orderdate",
        time_grains=("week",),
        filters=(MetricFilter("o_orderstatus", "=", "F"),),
    )
    out = compile_metric(o, m, "week")
    return out.withColumn("weekly_revenue", F.col("weekly_revenue").cast("double"))


@query(
    "a5_metric_count_day",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period_day,
           COUNT(event_id) AS n_views
    FROM events
    WHERE event_type = 'view'
    GROUP BY 1
    """,
)
def a5_metric_count_day(spark, sf_dir):
    """dbt-metric method matrix: plain count at day grain over the
    event stream (day truncation is insensitive to the ns-vs-µs
    timestamp normalization the events scan applies)."""
    from .plans.metrics import Metric, MetricFilter, compile_metric

    e = load(spark, sf_dir, "events")
    m = Metric(
        name="n_views",
        calculation_method="count",
        expression="event_id",
        timestamp="ts",
        time_grains=("day",),
        filters=(MetricFilter("event_type", "=", "view"),),
    )
    return compile_metric(e, m, "day")


@query(
    "a5_metric_min_year",
    oracle="""
    SELECT CAST(date_trunc('year', l_shipdate) AS TIMESTAMP) AS period_year,
           MIN(l_extendedprice) AS min_price
    FROM lineitem
    GROUP BY 1
    """,
)
def a5_metric_min_year(spark, sf_dir):
    """dbt-metric method matrix: min at year grain — order-independent
    on doubles, so no decimal routing needed. Completes the six
    calculation methods (count, count_distinct, sum, average, min,
    max) across the five grains."""
    from .plans.metrics import Metric, compile_metric

    li = load(spark, sf_dir, "lineitem")
    m = Metric(
        name="min_price",
        calculation_method="min",
        expression="l_extendedprice",
        timestamp="l_shipdate",
        time_grains=("year",),
    )
    return compile_metric(li, m, "year")


@query(
    "a5_metric_max_year",
    oracle="""
    SELECT CAST(date_trunc('year', l_shipdate) AS TIMESTAMP) AS period_year,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY 1
    """,
)
def a5_metric_max_year(spark, sf_dir):
    """dbt-metric: max at year grain (A5 method matrix)."""
    from .plans.metrics import Metric, compile_metric

    li = load(spark, sf_dir, "lineitem")
    m = Metric(
        name="max_price",
        calculation_method="max",
        expression="l_extendedprice",
        timestamp="l_shipdate",
        time_grains=("year",),
    )
    return compile_metric(li, m, "year")


@query(
    "prof_lineitem_histogram",
    oracle="""
    -- all arithmetic forced to DOUBLE: a bare 5.0 is DECIMAL in DuckDB
    -- and decimal division bins boundary values differently
    SELECT bin_idx,
           CAST(bin_idx AS DOUBLE) * CAST(5.0 AS DOUBLE) AS bin_lo,
           (CAST(bin_idx AS DOUBLE) + CAST(1.0 AS DOUBLE)) * CAST(5.0 AS DOUBLE) AS bin_hi,
           COUNT(*) AS n
    FROM (
      SELECT LEAST(9, GREATEST(0,
               CAST(floor(CAST(l_quantity AS DOUBLE) / CAST(5.0 AS DOUBLE)) AS INTEGER)
             )) AS bin_idx
      FROM lineitem WHERE l_quantity IS NOT NULL
    )
    GROUP BY bin_idx
    """,
)
def prof_lineitem_histogram(spark, sf_dir):
    """PipeRider-style equi-width histogram (profiling §3.3): 10 bins of
    l_quantity over [0, 50) — one narrow shuffle of bin ids."""
    from .plans.profile import profile_histogram

    return profile_histogram(
        load(spark, sf_dir, "lineitem"), "l_quantity", n_bins=10, lo=0.0, hi=50.0
    )


@query(
    "a5_metric_derived_revenue_per_order",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS period_month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(o_orderkey) AS revenue_per_order
    FROM orders
    GROUP BY 1
    """,
)
def a5_metric_derived_revenue_per_order(spark, sf_dir):
    """dbt derived metric (calculation_method: derived): an expression
    over two parent metrics (sum / count) joined at month grain — the
    remaining piece of the public dbt-metrics surface (A5)."""
    from .plans.metrics import DerivedMetric, Metric, compile_derived

    o = load(spark, sf_dir, "orders")
    total = Metric(
        name="total_revenue",
        calculation_method="sum",
        expression="CAST(o_totalprice AS DECIMAL(18,2))",
        timestamp="o_orderdate",
    )
    n = Metric(
        name="n_orders",
        calculation_method="count",
        expression="o_orderkey",
        timestamp="o_orderdate",
    )
    derived = DerivedMetric(
        name="revenue_per_order",
        expression="CAST(total_revenue AS DOUBLE) / n_orders",
        metrics=(total, n),
    )
    return compile_derived(o, derived, "month")


@query(
    "ext_snapshot_scd2_timestamp",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_totalprice, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn_a,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn_d
      FROM orders
    ),
    v1 AS (SELECT o_custkey, o_totalprice, o_orderdate FROM ranked WHERE rn_a = 1),
    v2 AS (SELECT o_custkey, o_totalprice, o_orderdate FROM ranked WHERE rn_d = 1),
    j AS (
      SELECT v1.o_custkey AS k,
             v1.o_totalprice AS p1, v1.o_orderdate AS d1,
             v2.o_totalprice AS p2, v2.o_orderdate AS d2
      FROM v1 JOIN v2 ON v1.o_custkey = v2.o_custkey
    )
    -- version 1: closed by v2 when strictly newer, else still current
    SELECT k AS o_custkey, p1 AS o_totalprice, d1 AS o_orderdate,
           md5(coalesce(CAST(k AS VARCHAR), '_null_') || '|' ||
               strftime(d1, '%Y-%m-%d %H:%M:%S')) AS dbt_scd_id,
           d1 AS dbt_updated_at, d1 AS dbt_valid_from,
           CASE WHEN d2 > d1 THEN d2 END AS dbt_valid_to
    FROM j
    UNION ALL
    -- version 2: inserted open-ended only when strictly newer
    SELECT k, p2, d2,
           md5(coalesce(CAST(k AS VARCHAR), '_null_') || '|' ||
               strftime(d2, '%Y-%m-%d %H:%M:%S')),
           d2, d2, NULL
    FROM j WHERE d2 > d1
    """,
)
def ext_snapshot_scd2_timestamp(spark, sf_dir):
    """dbt snapshot, timestamp strategy (plans/snapshots.py; reference
    ships the empty dbt ``snapshots/`` skeleton). Two deterministic
    source states derived from orders — per customer, the min- and
    max-orderkey rows — snapshotted in sequence; the oracle re-derives
    the SCD2 rows the strategy must produce (closed v1 + open v2 when
    newer, single open v1 otherwise)."""
    from .plans.snapshots import snapshot_timestamp

    o = load(spark, sf_dir, "orders")
    w_asc = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    w_desc = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    ranked = o.select(
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
    )
    v1 = ranked.filter("rn_a = 1").drop("rn_a", "rn_d")
    v2 = ranked.filter("rn_d = 1").drop("rn_a", "rn_d")
    snap = snapshot_timestamp(None, v1, "o_custkey", "o_orderdate")
    return snapshot_timestamp(snap, v2, "o_custkey", "o_orderdate")


@query(
    "a5_metric_rolling_avg_7d",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS period_day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s,
             COUNT(o_totalprice) AS c
      FROM orders GROUP BY 1
    )
    SELECT period_day,
           CAST(SUM(s) OVER win AS DOUBLE) / SUM(c) OVER win AS avg_price_7d
    FROM (SELECT *, date_diff('day', DATE '1970-01-01', period_day) AS idx FROM daily)
    WINDOW win AS (ORDER BY idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def a5_metric_rolling_avg_7d(spark, sf_dir):
    """dbt metric ``window:`` surface (A5): average o_totalprice over a
    trailing 7-day window at day grain — grouped partials (the only
    full shuffle) + a RANGE-framed window over one-row-per-day
    partials, exact across calendar gaps."""
    from .plans.metrics import Metric, compile_rolling

    o = load(spark, sf_dir, "orders")
    m = Metric(
        name="avg_price_7d",
        calculation_method="average",
        expression="o_totalprice",
        timestamp="o_orderdate",
        time_grains=("day",),
    )
    return _count_pin(compile_rolling(o, m, "day", 7), "avg_price_7d")


def _count_pin(df, *cols):
    """Always-true filter referencing ``cols`` — the bench-integrity
    pin (see contract_extensions._count_pin): keeps Catalyst from
    eliminating the window/join that produces them under the bench's
    bare count() consumer. hash(cols) >= Int.MinValue is always true,
    not constant-foldable, and changes zero rows."""
    return df.filter(F.hash(*[F.col(c) for c in cols]) >= F.lit(-2147483648))


@query(
    "prof_orders_topk_values",
    oracle="""
    SELECT value, n, CAST(row_number() OVER (ORDER BY n DESC, value ASC) AS INTEGER) AS rank
    FROM (
      SELECT o_orderpriority AS value, COUNT(*) AS n
      FROM orders WHERE o_orderpriority IS NOT NULL
      GROUP BY o_orderpriority
    )
    QUALIFY rank <= 3
    """,
)
def prof_orders_topk_values(spark, sf_dir):
    """PipeRider-style frequent-values stat (profiling §3.3): top-3
    o_orderpriority values with counts — count aggregate +
    TakeOrderedAndProject, never a global sort."""
    from .plans.profile import profile_topk

    return _count_pin(
        profile_topk(load(spark, sf_dir, "orders"), "o_orderpriority", 3),
        "rank",
    )


@query(
    "prof_lineitem_percentiles",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(CAST(l_quantity AS DOUBLE), [0.05,0.25,0.5,0.75,0.95]) AS q_qty,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), [0.05,0.25,0.5,0.75,0.95]) AS q_price,
             quantile_cont(CAST(l_discount AS DOUBLE), [0.05,0.25,0.5,0.75,0.95]) AS q_disc
      FROM lineitem
    )
    SELECT 'l_quantity' AS column_name, q_qty[1] AS p05, q_qty[2] AS p25,
           q_qty[3] AS p50, q_qty[4] AS p75, q_qty[5] AS p95 FROM q
    UNION ALL
    SELECT 'l_extendedprice', q_price[1], q_price[2], q_price[3], q_price[4], q_price[5] FROM q
    UNION ALL
    SELECT 'l_discount', q_disc[1], q_disc[2], q_disc[3], q_disc[4], q_disc[5] FROM q
    """,
)
def prof_lineitem_percentiles(spark, sf_dir):
    """PipeRider-style exact percentile profile (§3.3): p5/p25/p50/p75/
    p95 for three lineitem measures via distributed selection
    (plans/profile.profile_percentiles_selection) — bucket-histogram
    pass, then an exact re-read of only the rank-owning buckets; the
    interpolation matches DuckDB's ``quantile_cont`` bit-for-bit on
    doubles. Chosen over the one-agg exact ``percentile`` because a
    near-unique measure column (l_extendedprice: 583k distinct at
    sf0.1) makes the single-reducer value map the bottleneck — 10×
    here, unrunnable at 100 TB."""
    from .plans.profile import profile_percentiles_selection

    return profile_percentiles_selection(
        load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@query(
    "j5_star_join_revenue",
    oracle="""
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def j5_star_join_revenue(spark, sf_dir):
    """TPC-H Q5-shaped star join: the full region→nation→customer→
    orders→lineitem→supplier chain with a local-supplier equi-
    constraint, date range, and revenue rollup. The at-scale join
    strategy the reference's two-dim fact join (fact_trips.sql:54-57)
    grows into: every dimension broadcast (region/nation/supplier/
    customer), so the only shuffle is the lineitem⋈orders key join —
    Catalyst orders the chain and AQE picks the physical join; revenue
    summed through the deterministic decimal route (functions/parity)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = F.broadcast(load(spark, sf_dir, "customer"))
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "a9_conditional_agg_promo",
    oracle="""
    SELECT
      CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
      CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def a9_conditional_agg_promo(spark, sf_dir):
    """TPC-H Q14-shaped conditional aggregation: SUM(CASE WHEN ...) —
    the filtered-aggregate idiom (promo vs total revenue per ship
    month) over a broadcast lineitem⋈part join. Complements X2's bare
    CASE decode with CASE as an aggregate input; both sums ride the
    deterministic decimal route."""
    li = load(spark, sf_dir, "lineitem")
    p = F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_type"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate")).alias("ship_month")
        )
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


_Q17_SQL = """
SELECT
  p_brand,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem li
JOIN part p ON li.l_partkey = p.p_partkey
WHERE li.l_quantity < (
  SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(l2.l_quantity))
  FROM lineitem l2
  WHERE l2.l_partkey = li.l_partkey
)
GROUP BY p_brand
"""


@query("s6_correlated_subquery", oracle=_Q17_SQL)
def s6_correlated_subquery(spark, sf_dir):
    """TPC-H Q17-shaped correlated scalar subquery: per-part average
    quantity threshold referenced from the outer predicate. Exercises
    Catalyst's decorrelation — the subquery is rewritten to an
    aggregate-then-join, so at scale it is one extra shuffle, not a
    per-row re-scan. Identical SQL text runs on both engines; the
    inner average uses the exact decimal-sum/count route so the 0.2×
    threshold is bit-identical and no boundary row can flip."""
    from .sources.registry import register_all

    register_all(spark, sf_dir, tables=("lineitem", "part"))
    return spark.sql(_Q17_SQL)


@query(
    "j6_outer_join_count_dist",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def j6_outer_join_count_dist(spark, sf_dir):
    """TPC-H Q13-shaped LEFT OUTER join + two-level aggregation: count
    orders per customer (keeping customers with zero orders), then the
    distribution of those counts. Completes the join-type matrix the
    reference's inner joins (fact_trips.sql:54-57) start: outer joins
    cannot drop the probe side, so the null-extension semantics are the
    operator under test. The ON-clause filter on the preserved side's
    partner (``o_orderpriority <> '1-URGENT'``) is expressed as a
    pre-join filter — semantically identical for LEFT OUTER, and it
    pushes to the parquet scan instead of evaluating inside the join.
    At scale both sides are large → shuffle join on the customer key;
    the second aggregate's key (c_count) is tiny and AQE coalesces it."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "j7_semi_anti_multicond",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def j7_semi_anti_multicond(spark, sf_dir):
    """TPC-H Q21-shaped compound EXISTS / NOT EXISTS: the only supplier
    with a returned ('R') line on a multi-supplier order. DEFAULT
    execution is the multi-condition SEMI/ANTI join form with the
    probe sides MERGE-pinned — the r9 measurement REVERSED the r8
    plan promotion: four plans were timed head-to-head at sf10
    (60M-row lineitem, clean sessions, best-of-2):

    - semi/anti merge-pinned (THIS plan):            5.72 s
    - raw-line windows (collect_set over orderkey):  6.06 s
    - window over (order,supplier) pre-agg:          8.52 s
    - decorrelated aggregates (the r8 hypothesis):  13.2 s

    The r8 docstring predicted the decorrelated form ("one dedup
    shuffle + join back") would beat the two fact self-joins; it
    loses 2.3× because the groupBy(orderkey, suppkey) hash
    aggregation carries ~55M nearly-unique groups — per-row hash
    probes, spills, and a second order-grain exchange cost more than
    two streaming sort-merge semi/anti passes over the same exchange
    bytes. High-cardinality aggregation is NOT cheaper than a
    sort-merge self-join when groups ≈ rows. The decorrelated form
    stays in the contract as ``j7_decorrelated_form`` (same oracle)
    for the regime where it DOES win: a fact pre-bucketed/sorted on
    orderkey makes its aggregation exchange-free while the semi/anti
    form still pays residual probes. DuckDB's 0.85 s on this shape is
    a fully-pipelined in-memory hash plan with zero materialization —
    a materialized-shuffle engine's floor here is the exchange itself
    (the 100 TB answer is the bucketed layout, operators/scale.py).
    Equivalence of the forms is pinned row-for-row in
    tests/test_operators.py::test_j7_aggregate_decorrelation_equivalent."""
    return _j7_semi_anti_plan(spark, sf_dir)


def _j7_semi_anti_plan(spark, sf_dir):
    """Shared body of the semi/anti j7 form (default + plan query)."""
    li = load(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_returnflag").filter(
        F.col("l_returnflag") == "R"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    waiting = l1.join(
        l2.hint("merge"),
        (l1["l_orderkey"] == l2["k2"]) & (l1["l_suppkey"] != l2["s2"]),
        "left_semi",
    ).join(
        l3.hint("merge"),
        (l1["l_orderkey"] == l3["k3"]) & (l1["l_suppkey"] != l3["s3"]),
        "left_anti",
    )
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(
        load(spark, sf_dir, "nation").filter(
            F.col("n_name").isin("NATION_3", "NATION_7")
        )
    )
    return (
        waiting.join(s, waiting["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "j7_decorrelated_form",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def j7_decorrelated_form(spark, sf_dir):
    """The DECORRELATED aggregate form of j7 — the contract's coverage
    query for the EXISTS→aggregate rewrite pattern: per (order,
    supplier) one dedup row with an any-R flag, per order n_supp =
    distinct suppliers and n_rsupp = distinct R-suppliers;
    EXISTS(other supplier) ⇔ n_supp > 1, NOT EXISTS(other R supplier)
    ⇔ n_rsupp = 1 (the l1 row itself is R, so its supplier IS the
    unique R-supplier). Both fan-ins are exact: COUNT over the deduped
    per-supplier rows gives distinct-supplier counts without
    countDistinct's Expand. NOT the default execution: measured 13.2 s
    vs the semi/anti merge-pinned form's 5.72 s at sf10 (see
    ``j7_semi_anti_multicond`` for the four-plan scorecard) — the
    ~55M-group hash aggregation costs more than two streaming
    sort-merge passes. It stays in the contract because the balance
    flips when the fact is bucketed/sorted on orderkey (the
    aggregation becomes exchange-free; the semi/anti residual probes
    don't), and because the rewrite itself — EXISTS as a per-key
    aggregate — is plan coverage the semi/anti form can't give. Same
    oracle and output as ``j7_semi_anti_multicond``; equivalence is
    pinned row-for-row in
    tests/test_operators.py::test_j7_aggregate_decorrelation_equivalent."""
    li = load(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "has_r"
        )
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_rsupp"),
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    waiting = l1.join(
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_rsupp") == 1)),
        "l_orderkey",
    )
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(
        load(spark, sf_dir, "nation").filter(
            F.col("n_name").isin("NATION_3", "NATION_7")
        )
    )
    return (
        waiting.join(s, waiting["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "j8_full_outer_join",
    oracle="""
    WITH o AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ), l AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS m,
             COUNT(*) AS n_shipments
      FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(o.m, l.m) AS month,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_shipments, 0) AS n_shipments
    FROM o FULL OUTER JOIN l ON o.m = l.m
    """,
)
def j8_full_outer_join(spark, sf_dir):
    """FULL OUTER join of two independent monthly aggregates (orders
    placed vs lineitems shipped) — ship months trail order months, so
    BOTH sides contribute unmatched keys and the coalesced key is the
    operator under test. At scale each input is a one-shuffle
    aggregate; the outer join then runs on the already-tiny monthly
    grain (FULL OUTER cannot broadcast — it must see both sides'
    unmatched rows — so it stays a sort-merge, but over dozens of
    rows, not the fact table)."""
    o = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("om")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    l = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate")).alias("lm")
        )
        .agg(F.count(F.lit(1)).alias("n_shipments"))
    )
    return o.join(l, o["om"] == l["lm"], "full_outer").select(
        F.coalesce(o["om"], l["lm"]).alias("month"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("n_shipments"), F.lit(0)).alias("n_shipments"),
    )


@query(
    "a10_groupwise_median",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a10_groupwise_median(spark, sf_dir):
    """Exact per-group percentiles via the one-agg ``percentile``
    function — linear-interpolated like DuckDB's quantile_cont, and
    empirically bit-identical on doubles. Scale note: this form builds
    a per-group value map, which is right when groups are many and
    individually bounded (here: 3 return flags would NOT qualify at
    100 TB — a handful of giant maps). For low-cardinality groups at
    scale, use the distributed-selection path
    (plans/profile.profile_percentiles_selection) per group instead;
    this query pins the semantics and the cross-engine interpolation
    parity."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
    )


@query(
    "j9_cross_join_grid",
    oracle="""
    SELECT r_name, n_name, concat(r_name, '/', n_name) AS pair
    FROM region CROSS JOIN nation
    """,
)
def j9_cross_join_grid(spark, sf_dir):
    """Explicit CROSS JOIN — the dimension grid (every region ×
    every nation, e.g. for dense reporting scaffolds that outer-join
    facts onto the full key space). Safe only when at least one side
    is tiny; Spark requires the explicit crossJoin() call so an
    accidental missing join key fails analysis instead of exploding."""
    r = load(spark, sf_dir, "region").select("r_name")
    n = load(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        F.concat_ws("/", F.col("r_name"), F.col("n_name")).alias("pair"),
    )


@query(
    "j10_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT NULLIF(l_returnflag, 'N') AS flag,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY 1
    ), b AS (
      SELECT NULLIF(l_returnflag, 'N') AS flag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY 1
    )
    SELECT a.flag, n_lines, total_qty
    FROM a JOIN b ON a.flag IS NOT DISTINCT FROM b.flag
    """,
)
def j10_null_safe_join(spark, sf_dir):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys — required when a nullable column IS the business
    key (here a NULLIF-derived flag where NULL means 'open line').
    A plain equi-join silently drops every NULL-keyed row; the
    null-safe form keeps them AND still plans as a hash join (the
    null bucket hashes like any other key — no nested loop)."""
    li = load(spark, sf_dir, "lineitem")
    flag = F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag")
    a = li.groupBy(flag).agg(F.count(F.lit(1)).alias("n_lines"))
    b = li.groupBy(flag).agg(dsum(F.col("l_quantity"), 18, 2).alias("total_qty"))
    return a.join(b, a["flag"].eqNullSafe(b["flag"])).select(
        a["flag"], "n_lines", "total_qty"
    )
