"""Additional analytic surface: multi-level aggregation (rollup/cube
with grouping flags), filter-pushdown-heavy scans, semi/anti join
subquery shapes, date truncation, distinct + approx-distinct, and the
skew-resistant salted aggregation pattern.

These demonstrate engine breadth beyond the reference's operators
(SURVEY.md §2.4) — all native DataFrame API, Catalyst-optimized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bht_etl_app_spark.session import local_frame


def _dec(col: str):
    return F.col(col).cast("decimal(18,2)")


def _percentile_buckets(df: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """Phase one of the two-phase global ranking shared by
    ``customer_gini`` and ``part_abc_classes``: 6dp-quantized
    percentile cut points over ``__x__`` (1-row broadcast) assign
    each row an ORDER-PRESERVING bucket id ``__b__`` (ties share a
    bucket by construction). Returns ``(id_col, __x__, __b__)``; the
    caller prefix-sums per-bucket aggregates on the driver
    (model-parameter-sized) and ranks inside buckets."""
    fracs = ", ".join(
        f"{i / n_buckets:.10f}D" for i in range(1, int(n_buckets))
    )
    cuts = df.agg(
        F.expr(
            f"transform(percentile(CAST(__x__ AS DOUBLE), array({fracs})),"
            " c -> bround(c, 6))"
        ).alias("__cuts__")
    )
    return df.crossJoin(F.broadcast(cuts)).select(
        id_col,
        "__x__",
        F.size(
            F.filter(
                F.col("__cuts__"),
                lambda c: F.col("__x__").cast("double") > c,
            )
        ).alias("__b__"),
    )


def rollup_region_nation_revenue(
    region: DataFrame, nation: DataFrame, customer: DataFrame,
    orders: DataFrame, lineitem: DataFrame,
) -> DataFrame:
    """ROLLUP over (region, nation) with grouping flags — subtotal and
    grand-total rows in one pass (the one-pass generalization of the
    reference's hand-rolled crosstab margins).

    Partial-aggregation pushdown: lineitem collapses to one
    (rev, count) row per order key BEFORE the join chain — Catalyst
    does not push aggregates through joins itself, and pre-shrinking
    the fact side cuts the fact-fact shuffle ~4x (measured 2.8x wall
    at sf0.1; the ratio grows with lines-per-order). Decimal sums are
    associative, so sum-of-presums is exactly the direct sum."""
    disc = (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(_dec("l_extendedprice") * disc).alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    joined = (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.sum("cnt").alias("n_items"),
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
        )
    )


ROLLUP_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def cube_order_stats(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority): every subtotal combination."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q6_revenue_delta(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape: a single filter-heavy scan where every predicate
    pushes to parquet (range on date, between on discount, < on
    quantity) and only 3 columns are read."""
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def high_value_customers(customer: DataFrame, orders: DataFrame, min_total: float = 400000.0) -> DataFrame:
    """Semi join (EXISTS subquery shape): customers with at least one
    order above the threshold."""
    big = orders.where(F.col("o_totalprice") > min_total)
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


HIGH_VALUE_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
)
"""


def monthly_order_stats(orders: DataFrame) -> DataFrame:
    """Date truncation + multiple date parts in one aggregate."""
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
            F.quarter("o_orderdate").cast("long").alias("quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_order"),
            F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_order"),
        )
    )


MONTHLY_ORDER_STATS_SQL = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
       CAST(quarter(o_orderdate) AS BIGINT) AS quarter,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_order,
       MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_order
FROM orders
GROUP BY 1, 2
"""


def distinct_parts_per_supplier(lineitem: DataFrame) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — shuffles (key, value) pairs.
    For 100 TB cardinality estimation use approx_distinct_parts (HLL,
    one pass, no distinct shuffle) — approximate, so rows-only checked."""
    return (
        lineitem.groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


DISTINCT_PARTS_SQL = """
SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY 1
"""


def approx_distinct_parts(lineitem: DataFrame) -> DataFrame:
    """HyperLogLog approximate distinct — the scale path (single pass,
    fixed-size sketch per group, no distinct shuffle). Engine-specific
    sketch values -> rows-only contract check."""
    return (
        lineitem.groupBy("l_suppkey")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"))
    )


def salted_user_event_totals(events: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Skew-resistant two-stage aggregation: pre-aggregate on
    (key, random-ish salt) to spread a hot key across ``salt_buckets``
    reducers, then combine per key. The salt is derived
    deterministically from event_id so results are reproducible.

    Identical result to a plain groupBy (the oracle checks exactly
    that); at scale this is the pattern for power-law keys where one
    user owns 1% of all events.
    """
    salted = events.withColumn(
        "__salt__", F.pmod(F.col("event_id"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("user_id", "__salt__").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).alias("v"),
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


SALTED_USER_EVENT_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


def grouping_sets_order_stats(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS: per-status and per-priority order
    aggregates computed in ONE pass (Catalyst expands the sets into an
    Expand node feeding a single shuffle — vs two scans for two
    groupBys). ``grouping()`` flags disambiguate the NULL that marks
    "not grouped on this column" from a real NULL key."""
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


def user_cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention — the canonical product-analytics
    query: group users by their first-activity week (the cohort),
    then count how many are active k weeks later. Output:
    ``(cohort_week date, week_offset, n_users)``.

    Scale shape: one aggregation to find each user's first event
    (map-side-combined min), one distinct user-week projection, and a
    user-keyed equi-join — both shuffles are on the fine-grained
    user key; the output frame is cohorts × offsets (tiny). Week
    truncation is Monday-based in both Spark and the DuckDB oracle,
    and the UTC session pin (load_table) makes the week boundaries
    caller-invariant.
    """
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("__cw__")
    )
    weeks = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("__w__")
    ).distinct()
    return (
        weeks.join(first, "user_id")
        .select(
            F.col("__cw__").cast("date").alias("cohort_week"),
            (F.datediff(F.col("__w__"), F.col("__cw__")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


USER_COHORT_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cw
  FROM events GROUP BY 1
),
weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
)
SELECT CAST(cw AS DATE) AS cohort_week,
       CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM weeks JOIN first USING (user_id)
GROUP BY 1, 2
"""


def funnel_conversion(
    events: DataFrame,
    steps=("view", "click", "purchase"),
    max_gap_s: int | None = None,
) -> DataFrame:
    """Strictly-ordered funnel: a user converts step k only with an
    event of type ``steps[k]`` AT OR AFTER their step-(k-1) conversion
    time (the product-analytics ordering rule — a purchase before the
    first view does not count a funnel conversion). Output one row per
    step: ``(step_idx, step, n_users, pct_of_first)``.

    ``max_gap_s`` bounds each step's window: step k must occur within
    that many seconds after the step-(k-1) time (the attribution
    window) — without it, any later event converts.

    Plan: k-1 rounds of (conditional-min aggregation on user_id +
    user-keyed join) — every shuffle is on the fine-grained user key
    and each round's frame is one timestamp per user. The alternative
    single-pass form (sort each user's events into an array and fold)
    trades those joins for per-user array memory — the join form is
    the one that survives power-law users at 100 TB.
    """
    steps = list(steps)
    cur = events.where(F.col("event_type") == steps[0]).groupBy("user_id").agg(
        F.min("ts").alias("__t0__")
    )
    counts = [cur.count()]
    prev = cur
    for i, step in enumerate(steps[1:], start=1):
        cond = F.col("ts") >= F.col(f"__t{i-1}__")
        if max_gap_s is not None:
            cond = cond & (
                F.col("ts")
                <= F.col(f"__t{i-1}__") + F.expr(f"INTERVAL {int(max_gap_s)} SECONDS")
            )
        nxt = (
            events.where(F.col("event_type") == step)
            .join(prev, "user_id")
            .where(cond)
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"__t{i}__"))
        )
        counts.append(nxt.count())
        prev = nxt
    spark = events.sparkSession
    base = counts[0] or 1
    rows = [
        (i, s, counts[i], round(100.0 * counts[i] / base, 6))
        for i, s in enumerate(steps)
    ]
    return local_frame(
        spark, rows, "step_idx long, step string, n_users long, pct_of_first double"
    )


def funnel_sql(steps=("view", "click", "purchase"), max_gap_s: int | None = None) -> str:
    steps = list(steps)
    ctes = [
        f"s0 AS (SELECT user_id, min(ts) AS t0 FROM events "
        f"WHERE event_type = '{steps[0]}' GROUP BY 1)"
    ]
    for i, step in enumerate(steps[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t{i} FROM events e "
            f"JOIN s{i-1} p ON e.user_id = p.user_id "
            f"WHERE e.event_type = '{step}' AND e.ts >= p.t{i-1}"
            + (
                f" AND e.ts <= p.t{i-1} + INTERVAL {int(max_gap_s)} SECOND"
                if max_gap_s is not None
                else ""
            )
            + " GROUP BY 1)"
        )
    selects = [
        f"SELECT CAST({i} AS BIGINT) AS step_idx, '{s}' AS step, "
        f"CAST((SELECT count(*) FROM s{i}) AS BIGINT) AS n_users, "
        f"round(100.0 * (SELECT count(*) FROM s{i}) "
        f"/ greatest((SELECT count(*) FROM s0), 1), 6) AS pct_of_first"
        for i, s in enumerate(steps)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-N-day distinct active users per (observed) day —
    exact, computed the way that scales instead of the way that
    reads naturally.

    The natural form — ``count(DISTINCT user) OVER (ORDER BY day
    RANGE N DAYS PRECEDING)`` — is unsupported (windowed distinct),
    and its workaround (a per-day self-join against the full event
    range) rereads N days of events per output day. The scale form
    inverts the direction: each (day, user) activity pair CONTRIBUTES
    to the ``window_days`` target days it falls inside — a bounded
    ``sequence()`` explode (×N on the deduplicated day-user pairs,
    not on raw events), then one distinct count per target day.
    Cost: one shuffle to dedup (day, user), one explode, one
    count-distinct aggregation; no repeated scans, no window.

    Only days observed in the data are reported (a calendar-spine
    variant would join a date spine instead). Output:
    ``(day, active_users)``.
    """
    du = events.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    days = du.select(F.col("d").alias("day")).distinct()
    contrib = du.select(
        F.explode(
            F.sequence(
                "d",
                F.col("d") + F.expr(f"interval {int(window_days) - 1} day"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
        "user_id",
    )
    return (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


ROLLING_ACTIVE_USERS_SQL = """
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d AS day FROM du),
contrib AS (
  SELECT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day,
         user_id
  FROM du
)
SELECT c.day, count(DISTINCT c.user_id) AS active_users
FROM contrib c JOIN days USING (day)
GROUP BY 1
"""


def part_copurchase_pairs(
    lineitem: DataFrame, min_support: int = 3, top_k: int = 50
) -> DataFrame:
    """Frequent 2-itemsets over order baskets (the support-counting
    core of market-basket / co-occurrence analysis): pairs of parts
    appearing in the same order, with their support (number of
    distinct orders containing both), filtered to ``min_support`` and
    ranked to the global top ``top_k``.

    Scale shape: the self-join keys on the ORDER — candidate volume
    per order is C(basket_size, 2), and basket sizes are bounded
    (≤ 7 lineitems in TPC-H; real baskets are tens), so the join is
    linear in orders with a small constant, never corpus-quadratic.
    Distinct (order, part) first so duplicate part lines don't
    inflate support. The global top-k lowers to
    TakeOrderedAndProject via the limit-adjacent sort.
    Output: ``(part_a, part_b, support, rank)``.
    """
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = op.select("ok", F.col("pk").alias("part_a"))
    b = op.select("ok", F.col("pk").alias("part_b"))
    support = (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
    )
    ranked = support.orderBy(
        F.desc("support"), F.asc("part_a"), F.asc("part_b")
    ).limit(top_k)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
    return ranked.withColumn("rank", F.row_number().over(w).cast("long"))


PART_COPURCHASE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
support AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS support
  FROM op a JOIN op b USING (ok)
  WHERE a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT part_a, part_b, support,
       CAST(row_number() OVER (ORDER BY support DESC, part_a, part_b) AS BIGINT) AS rank
FROM (SELECT * FROM support ORDER BY support DESC, part_a, part_b LIMIT 50)
"""


def customer_spend_trend(orders: DataFrame, min_orders: int = 5) -> DataFrame:
    """Per-customer spend trend: the OLS slope (and intercept) of
    order total vs order date, per customer — the grouped-regression
    primitive behind churn signals ("whose spend is decaying?") and
    growth ranking. Output: ``(o_custkey, n_orders, slope,
    intercept)`` with ``slope`` in price-units per day; customers
    with fewer than ``min_orders`` orders suppressed (a 2-point
    trend is noise).

    Exactness: the engine's ``regr_slope`` is a single-pass float
    covariance whose update order is partitioning-dependent (the
    ``token_zipf_fit`` lesson), so this computes the FIVE exact
    power sums instead — x = days-since-epoch (long), y = DECIMAL
    (18,2) money, Σx, Σx² in int64, Σy, Σxy in widened DECIMAL —
    and only then combines them in doubles through one fixed
    formula: every input to the float math is exact, so the result
    is partitioning-invariant and oracle-reproducible with no fold
    discipline.

    Scale shape: one map-side-combining groupBy on the customer key;
    five sums per group, no window, no join, no second pass.
    """
    x = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    y = F.col("o_totalprice").cast("decimal(18,2)")
    sums = (
        orders.select(
            "o_custkey",
            x.cast("long").alias("__x__"),
            y.alias("__y__"),
            x.cast("decimal(10,0)").alias("__xd__"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("__x__").cast("double").alias("__sx__"),
            F.sum(F.col("__x__") * F.col("__x__")).cast("double").alias("__sxx__"),
            F.sum("__y__").cast("double").alias("__sy__"),
            F.sum(F.col("__xd__") * F.col("__y__")).cast("double").alias("__sxy__"),
        )
        .where(F.col("n_orders") >= int(min_orders))
    )
    n = F.col("n_orders").cast("double")
    den = n * F.col("__sxx__") - F.col("__sx__") * F.col("__sx__")
    slope = (n * F.col("__sxy__") - F.col("__sx__") * F.col("__sy__")) / den
    intercept = (F.col("__sy__") - slope * F.col("__sx__")) / n
    return sums.where(den > F.lit(0.0)).select(
        "o_custkey",
        "n_orders",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


CUSTOMER_SPEND_TREND_SQL = """
WITH sums AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy
  FROM (
    SELECT o_custkey,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS x,
           CAST(o_totalprice AS DECIMAL(18,2)) AS y
    FROM orders
  )
  GROUP BY 1
  HAVING count(*) >= 5
)
SELECT o_custkey, n_orders,
       (CAST(n_orders AS DOUBLE) * sxy - sx * sy)
         / (CAST(n_orders AS DOUBLE) * sxx - sx * sx) AS slope,
       (sy - ((CAST(n_orders AS DOUBLE) * sxy - sx * sy)
              / (CAST(n_orders AS DOUBLE) * sxx - sx * sx)) * sx)
         / CAST(n_orders AS DOUBLE) AS intercept
FROM sums
WHERE CAST(n_orders AS DOUBLE) * sxx - sx * sx > CAST(0.0 AS DOUBLE)
"""


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    canonical marketing segmentation: each customer gets 1–5 quantile
    scores on days-since-last-order (5 = most recent), order count,
    and total spend, plus the concatenated segment code ("555" = best).
    Output: ``(o_custkey, recency_days, frequency, monetary, r_score,
    f_score, m_score, segment)``.

    A global ``ntile`` window would rank every customer in ONE task
    (the vocab_coverage lesson). Instead the quantile BOUNDARIES are
    computed — one exact-percentile aggregate producing 4 cut points
    per dimension, a model-parameter-sized 1-row broadcast — and each
    customer scores itself against the broadcast cuts with a scan-side
    ``size(filter(...))``. Same shape as ``order_price_deciles``.

    Exactness: recency/frequency are exact ints; monetary rides the
    DECIMAL(18,2) money discipline; the percentile cut points are
    6dp-quantized in BOTH engines before scoring (Spark and DuckDB
    interpolate with differently-associated float formulas — an
    unquantized 1-ulp cut would flip boundary customers).
    The recency anchor is the corpus max order date (1-row broadcast),
    so the operator is a pure function of the table.
    """
    d = F.to_date("o_orderdate")
    per = orders.groupBy("o_custkey").agg(
        F.max(d).alias("__last__"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__mon__"),
    )
    anchor = orders.agg(F.max(d).alias("__anchor__"))
    base = per.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("__anchor__"), F.col("__last__"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        F.col("__mon__").cast("double").alias("monetary"),
    )
    # Cut points are quantized at 6dp: Spark percentile() and DuckDB
    # quantile_cont() interpolate with differently-associated float
    # formulas, and an unquantized 1-ulp cut divergence would flip a
    # boundary customer's score. 6dp, not 12dp: monetary cuts sit at
    # ~1e5 where one ulp (~1.5e-11) is BELOW a 1e-12 quantum — 12dp
    # would round every double to itself and protect nothing, while
    # 1e-6 is far above ulp spacing and far below any real boundary.
    cuts = base.agg(
        F.expr(
            "transform(percentile(CAST(recency_days AS DOUBLE),"
            " array(0.2D, 0.4D, 0.6D, 0.8D)), c -> bround(c, 6))"
        ).alias("__rc__"),
        F.expr(
            "transform(percentile(CAST(frequency AS DOUBLE),"
            " array(0.2D, 0.4D, 0.6D, 0.8D)), c -> bround(c, 6))"
        ).alias("__fc__"),
        F.expr(
            "transform(percentile(monetary, array(0.2D, 0.4D, 0.6D, 0.8D)),"
            " c -> bround(c, 6))"
        ).alias("__mc__"),
    )

    def _q(val, cut_col):
        above = F.size(
            F.filter(F.col(cut_col), lambda c: val.cast("double") > c)
        )
        return (F.lit(1) + above).cast("long")

    scored = base.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(6) - _q(F.col("recency_days"), "__rc__")).cast("long").alias(
            "r_score"
        ),
        _q(F.col("frequency"), "__fc__").alias("f_score"),
        _q(F.col("monetary"), "__mc__").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


RFM_SEGMENTS_SQL = """
WITH per AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_date,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
),
anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS ad FROM orders),
base AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_date, anchor.ad) AS BIGINT)
           AS recency_days,
         frequency, monetary
  FROM per, anchor
),
cuts AS (
  SELECT list_transform(
           quantile_cont(CAST(recency_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]),
           c -> round_even(c, 6)) AS rc,
         list_transform(
           quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8]),
           c -> round_even(c, 6)) AS fc,
         list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]),
                        c -> round_even(c, 6)) AS mc
  FROM base
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         CAST(6 - (1 + len(list_filter(cuts.rc,
              c -> CAST(recency_days AS DOUBLE) > c))) AS BIGINT) AS r_score,
         CAST(1 + len(list_filter(cuts.fc,
              c -> CAST(frequency AS DOUBLE) > c)) AS BIGINT) AS f_score,
         CAST(1 + len(list_filter(cuts.mc,
              c -> monetary > c)) AS BIGINT) AS m_score
  FROM base, cuts
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


def part_cooccurrence_sim(
    lineitem: DataFrame, min_support: int = 3, top_k: int = 50
) -> DataFrame:
    """Item-item cosine similarity over order baskets — the
    neighborhood model behind "customers who bought X also bought Y"
    (Sarwar et al., "Item-Based Collaborative Filtering", WWW'01):
    ``sim(a,b) = c_ab / sqrt(c_a · c_b)`` where ``c_ab`` counts
    orders containing both and ``c_i`` orders containing the item.
    Output: the global top ``top_k`` pairs by similarity,
    ``(part_a, part_b, support, sim, rank)``.

    Scale shape: identical to :func:`part_copurchase_pairs` — the
    self-join keys on the ORDER, fan-out C(basket, 2) per order,
    basket-bounded; per-item counts ride a broadcast join (item
    vocabulary is dimension-sized relative to the fact table). The
    cosine is sqrt/division over exact ints — deterministic, no fold.
    ``min_support`` suppresses the 1-co-occurrence noise floor that
    cosine otherwise ranks absurdly high for rare item pairs.
    """
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    item = op.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = op.select("ok", F.col("pk").alias("part_a"))
    b = op.select("ok", F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= int(min_support))
    )
    ca = item.select(F.col("pk").alias("part_a"), F.col("c").alias("c_a"))
    cb = item.select(F.col("pk").alias("part_b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                F.col("support")
                / F.sqrt(F.col("c_a").cast("double") * F.col("c_b").cast("double")),
                6,
            ).alias("sim"),
        )
    )
    ranked = scored.orderBy(
        F.desc("sim"), F.asc("part_a"), F.asc("part_b")
    ).limit(int(top_k))
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("sim"), F.asc("part_a"), F.asc("part_b"))
    return ranked.withColumn("rank", F.row_number().over(w).cast("long"))


PART_COOCCURRENCE_SIM_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
item AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY 1),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS support
  FROM op a JOIN op b USING (ok)
  WHERE a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
scored AS (
  SELECT part_a, part_b, support,
         round(support / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6)
           AS sim
  FROM pairs
  JOIN item ca ON pairs.part_a = ca.pk
  JOIN item cb ON pairs.part_b = cb.pk
)
SELECT part_a, part_b, support, sim,
       CAST(row_number() OVER (ORDER BY sim DESC, part_a, part_b) AS BIGINT)
         AS rank
FROM (SELECT * FROM scored ORDER BY sim DESC, part_a, part_b LIMIT 50)
"""


def ab_test_zstats(
    events: DataFrame,
    convert_type: str = "purchase",
    user_col: str = "user_id",
) -> DataFrame:
    """Two-proportion z-statistic for a deterministic 50/50 user split
    — the experimentation primitive: users are assigned to arms by id
    hash (md5 parity — the repo's reproducible "randomization"), the
    conversion metric is "user emitted ``convert_type`` at least
    once", and the pooled two-proportion z is
    ``(p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b))``. |z| > 1.96 ≈ the
    5% level. An A/A test on real traffic (as here, where assignment
    is independent of behavior) should hover near 0 — which makes
    this double as the SRM/instrumentation sanity check. One row:
    ``(n_a, n_b, conv_a, conv_b, p_a, p_b, z)``.

    Exactness: counts are exact ints; p's and z derive through fixed
    single-op float arithmetic (no fold, no ln) — deterministic
    unrounded. Scale shape: one per-user aggregate (map-side
    combine), then a 1-row fold.
    """
    arm = (
        F.conv(F.substring(F.md5(F.col(user_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    per_user = events.groupBy(user_col).agg(
        F.max(
            F.when(F.col("event_type") == convert_type, 1).otherwise(0)
        ).alias("__conv__")
    ).select(arm.alias("__arm__"), "__conv__")
    agg = per_user.agg(
        F.sum(F.when(F.col("__arm__") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("__arm__") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("__arm__") == 0, F.col("__conv__")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("__arm__") == 1, F.col("__conv__")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = F.when(se > 0, (p_a - p_b) / se)
    return agg.select(
        "n_a", "n_b", "conv_a", "conv_b",
        p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z"),
    )


AB_TEST_ZSTATS_SQL = """
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
           AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
agg AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM per_user
)
SELECT n_a, n_b, conv_a, conv_b,
       CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
       CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
       CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                      * (CAST(1.0 AS DOUBLE)
                         - CAST(conv_a + conv_b AS DOUBLE)
                           / CAST(n_a + n_b AS DOUBLE))
                      * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                         + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) > 0
            THEN (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                        * (CAST(1.0 AS DOUBLE)
                           - CAST(conv_a + conv_b AS DOUBLE)
                             / CAST(n_a + n_b AS DOUBLE))
                        * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                           + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE)))
       END AS z
FROM agg
"""


def customer_gini(orders: DataFrame, n_buckets: int = 32) -> DataFrame:
    """Gini coefficient of customer spend — the revenue-concentration
    number behind "do 20% of customers drive 80% of revenue" (0 =
    perfectly even, →1 = one whale): with spend ascending-ranked
    ``x_(1) ≤ … ≤ x_(n)``,
    ``G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)``. One row:
    ``(n_customers, total_spend, gini)``.

    The rank-weighted sum needs a GLOBAL ascending rank — the classic
    single-partition-window trap. This uses the two-phase bucketed
    ranking (the ``training_order`` pattern, value-ordered): spend
    percentile cut points (6dp-quantized, 1-row broadcast) define
    ORDER-PRESERVING buckets (ties share a bucket by construction);
    per-bucket counts prefix-sum on the driver (``n_buckets`` longs —
    model-parameter-sized); rank = bucket offset + in-bucket
    row_number, each window bounded at ~n/``n_buckets`` rows. The
    oracle ranks directly with one row_number — any correct total
    order gives the identical Σ i·x, so the hash-match proves the
    two-phase rank IS the global rank.

    Exactness: spend rides DECIMAL(18,2); ``Σ i·x`` is an exact
    DECIMAL(38,2) sum (rank × spend); the final ratio is
    12dp-quantized because large decimal sums cross engines through
    differently-rounded DECIMAL→DOUBLE casts (the TWAP lesson) —
    gini is O(1), so 12dp genuinely absorbs it.
    """
    from pyspark.sql.window import Window

    spend = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("__x__")
    )
    bucketed = _percentile_buckets(spend, "o_custkey", n_buckets)
    counts = sorted(
        bucketed.groupBy("__b__").count().collect(), key=lambda r: r["__b__"]
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["__b__"], acc))
        acc += r["count"]
    odf = local_frame(
        orders.sparkSession, offsets, "__b__ int, __off__ long"
    )
    w = Window.partitionBy("__b__").orderBy(F.asc("__x__"), F.asc("o_custkey"))
    ranked = bucketed.join(F.broadcast(odf), "__b__").select(
        "__x__",
        (F.col("__off__") + F.row_number().over(w)).cast("decimal(19,0)").alias(
            "__i__"
        ),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("__x__").alias("__sx__"),
        F.sum(F.col("__i__") * F.col("__x__")).alias("__six__"),
    )
    n = F.col("n_customers").cast("double")
    sx = F.col("__sx__").cast("double")
    six = F.col("__six__").cast("double")
    return agg.select(
        "n_customers",
        F.col("__sx__").cast("double").alias("total_spend"),
        F.bround(
            (F.lit(2.0) * six - (n + F.lit(1.0)) * sx) / (n * sx), 12
        ).alias("gini"),
    )


CUSTOMER_GINI_SQL = """
WITH spend AS (
  SELECT o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT x,
         CAST(row_number() OVER (ORDER BY x ASC, o_custkey ASC)
              AS DECIMAL(19,0)) AS i
  FROM spend
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_customers,
         sum(x) AS sx,
         sum(i * x) AS six
  FROM ranked
)
SELECT n_customers,
       CAST(sx AS DOUBLE) AS total_spend,
       round_even((CAST(2.0 AS DOUBLE) * CAST(six AS DOUBLE)
                   - (CAST(n_customers AS DOUBLE) + CAST(1.0 AS DOUBLE))
                     * CAST(sx AS DOUBLE))
                  / (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)), 12)
         AS gini
FROM agg
"""


def copurchase_edges(lineitem: DataFrame, min_support: int = 3) -> DataFrame:
    """The co-purchase GRAPH (unranked twin of
    :func:`part_copurchase_pairs`): unique part pairs sharing at least
    ``min_support`` distinct orders, as ``(id_a, id_b)`` with
    ``id_a < id_b`` — the edge-list input shape of the
    ``operators/graph.py`` family. Same scale bound: the self-join
    keys on the order, so candidates are C(basket, 2) per order."""
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = op.select("ok", F.col("pk").alias("id_a"))
    b = op.select("ok", F.col("pk").alias("id_b"))
    return (
        a.join(b, "ok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .where(F.col("__n__") >= min_support)
        .select("id_a", "id_b")
    )


# the support>=3 co-purchase edge list e(a, b), a < b — the ONE
# source for every graph-family oracle (triangles / link prediction /
# communities); the 3 literal mirrors copurchase_edges(min_support=3)
COPURCHASE_EDGES_CTE = """op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
e AS (
  SELECT a.pk AS a, b.pk AS b
  FROM op a JOIN op b USING (ok)
  WHERE a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= 3
)"""

from bht_etl_app_spark.operators.graph import DEGREE_CTE as _DEGREE_CTE

COPURCHASE_TRIANGLES_SQL = (
    "WITH " + COPURCHASE_EDGES_CTE + ",\n" + _DEGREE_CTE + ","
) + """
o AS (
  SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS src,
         CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS dst,
         CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.a < e.b)
              THEN d2.deg ELSE d1.deg END AS ddst
  FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v
),
cands AS (
  SELECT w1.dst AS src, w2.dst AS dst
  FROM o w1 JOIN o w2 ON w1.src = w2.src
  WHERE w1.ddst < w2.ddst OR (w1.ddst = w2.ddst AND w1.dst < w2.dst)
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS t
  FROM cands c
  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = c.src AND o.dst = c.dst)
),
agg AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         (SELECT t FROM tri) AS n_triangles,
         (SELECT CAST(sum(CAST(deg AS HUGEINT) * (deg - 1)) // 2 AS BIGINT)
          FROM deg) AS n_wedges
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN CAST(3.0 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
                 / CAST(n_wedges AS DOUBLE)
       END AS global_clustering
FROM agg
"""


def daily_revenue_cusum(orders: DataFrame, z_alarm: float = 5.0) -> DataFrame:
    """Page's CUSUM change-point statistic over the daily revenue
    series — the sequential control chart behind "did the level of
    this metric shift, and when": cumulative deviation from the
    series mean, reset implicitly by tracking the running extremum
    (``S⁺_t = C_t − min_{j≤t} C_j`` — the prefix-sum formulation of
    the ``max(0, ·)`` recurrence, which keeps the whole statistic a
    pair of window aggregates instead of a stateful kernel). Drift
    allowance is 0 (plain Page CUSUM vs the global mean): a nonzero
    ``kσ`` drift would put a float inside the running sum and break
    integer exactness. Output per day: ``(day, revenue, z_pos,
    z_neg, alarm)`` where z is the CUSUM in σ units, quantized at 8dp
    — magnitude-aware: ``dev`` reaches ~1e16 (past 2^53), so the
    decimal→double casts carry ~1e-10 engine divergence after the
    σ division; 12dp would sit BELOW that noise (observed live at
    sf0.01), 8dp absorbs it with 6 orders of margin.

    Exactness: revenue rides integer CENTS (DECIMAL(38,0));
    ``dev_t = N·cum_t − t·S`` clears the μ division, so every
    cumulative quantity is exact (integer window sums are
    association-free); σ enters only in the FINAL fixed-order double
    expression, whose wide-decimal→double casts the 8dp quantization
    absorbs.

    Scale shape: one map-side-combining rollup to |days| rows; every
    window runs over that day-sized frame (decades = thousands of
    rows), partitionable by series key when used per-metric.
    """
    day = F.date_trunc("DAY", F.col("o_orderdate"))
    daily = (
        orders.groupBy(day.alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev__")
        )
        .select(
            "day",
            (F.col("__rev__") * 100).cast("decimal(38,0)").alias("c"),
        )
    )
    w_all = Window.orderBy("day").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n = F.count(F.lit(1)).over(w_all).cast("decimal(38,0)")
    s = F.sum("c").over(w_all).cast("decimal(38,0)")
    ssq = F.sum(F.col("c") * F.col("c")).over(w_all).cast("decimal(38,0)")
    cum = F.sum("c").over(w_cum).cast("decimal(38,0)")
    t = F.row_number().over(Window.orderBy("day")).cast("decimal(38,0)")
    staged = daily.select(
        "day",
        "c",
        (n * cum - t * s).alias("dev"),
        n.cast("double").alias("__n__"),
        s.cast("double").alias("__s__"),
        ssq.cast("double").alias("__ssq__"),
    )
    # zero-variance / single-day series have no defensible sigma: emit
    # NULL z and alarm=false (the hourly_count_anomalies convention)
    # rather than dividing by zero (an ERROR under Spark 4's default
    # ANSI mode). greatest(n-1, 1) keeps the variance expression
    # evaluable on the n==1 row; that row is guarded out anyway.
    var = (
        F.col("__ssq__") - F.col("__s__") * F.col("__s__") / F.col("__n__")
    ) / F.greatest(F.col("__n__") - F.lit(1.0), F.lit(1.0))
    ok = (F.col("__n__") > F.lit(1.0)) & (var > F.lit(0.0))
    cusum_pos = F.col("dev") - F.min("dev").over(w_cum)
    cusum_neg = F.max("dev").over(w_cum) - F.col("dev")
    z = lambda cusum: F.when(  # noqa: E731
        ok,
        F.bround(cusum.cast("double") / (F.col("__n__") * F.sqrt(var)), 8),
    )
    scored = staged.select(
        "day",
        (F.col("c").cast("double") / F.lit(100.0)).alias("revenue"),
        z(cusum_pos).alias("z_pos"),
        z(cusum_neg).alias("z_neg"),
    )
    return scored.select(
        "day",
        "revenue",
        "z_pos",
        "z_neg",
        F.coalesce(
            F.greatest("z_pos", "z_neg") > F.lit(float(z_alarm)), F.lit(False)
        ).alias("alarm"),
    )


DAILY_REVENUE_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
              AS DECIMAL(38,0)) AS c
  FROM orders GROUP BY 1
),
staged AS (
  SELECT day, c,
         CAST(count(*) OVER () AS DECIMAL(38,0))
           * sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           - CAST(row_number() OVER (ORDER BY day) AS DECIMAL(38,0))
             * sum(c) OVER () AS dev,
         CAST(count(*) OVER () AS DOUBLE) AS n,
         CAST(CAST(sum(c) OVER () AS DECIMAL(38,0)) AS DOUBLE) AS s,
         CAST(CAST(sum(c * c) OVER () AS DECIMAL(38,0)) AS DOUBLE) AS ssq
  FROM daily
),
scored AS (
  SELECT day, CAST(c AS DOUBLE) / CAST(100.0 AS DOUBLE) AS revenue,
         CASE WHEN n > CAST(1.0 AS DOUBLE)
                   AND (ssq - s * s / n)
                       / greatest(n - CAST(1.0 AS DOUBLE),
                                  CAST(1.0 AS DOUBLE)) > CAST(0.0 AS DOUBLE)
              THEN round_even(CAST(dev - min(dev) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                  / (n * sqrt((ssq - s * s / n)
                              / greatest(n - CAST(1.0 AS DOUBLE),
                                         CAST(1.0 AS DOUBLE)))), 8)
         END AS z_pos,
         CASE WHEN n > CAST(1.0 AS DOUBLE)
                   AND (ssq - s * s / n)
                       / greatest(n - CAST(1.0 AS DOUBLE),
                                  CAST(1.0 AS DOUBLE)) > CAST(0.0 AS DOUBLE)
              THEN round_even(CAST(max(dev) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) - dev AS DOUBLE)
                  / (n * sqrt((ssq - s * s / n)
                              / greatest(n - CAST(1.0 AS DOUBLE),
                                         CAST(1.0 AS DOUBLE)))), 8)
         END AS z_neg
  FROM staged
)
SELECT day, revenue, z_pos, z_neg,
       coalesce(greatest(z_pos, z_neg) > CAST(5.0 AS DOUBLE), false) AS alarm
FROM scored
"""


def revenue_dow_seasonality(orders: DataFrame) -> DataFrame:
    """Day-of-week seasonality index of revenue — mean daily revenue
    for each weekday over the grand mean daily revenue (the
    ratio-to-moving-average decomposition's seasonal factor, on the
    weekly cycle): the capacity-planning primitive behind "Mondays
    run 12% hot". Output: ``(dow, n_days, avg_revenue, index)`` with
    Spark's 1=Sunday..7=Saturday convention.

    Exactness: integer-cents sums per weekday; the mean-of-means
    ratio is cleared to ``(s_d·N)/(n_d·S)`` — one fixed-order double
    expression of exact integers, 12dp-quantized.

    Scale shape: two nested map-side rollups (days, then 7 weekday
    rows); the normalizing window runs over 7 rows.
    """
    day = F.date_trunc("DAY", F.col("o_orderdate"))
    daily = orders.groupBy(day.alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev__")
    )
    per_dow = (
        daily.select(
            F.dayofweek("day").cast("long").alias("dow"),
            (F.col("__rev__") * 100).cast("decimal(38,0)").alias("c"),
        )
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("c").cast("decimal(38,0)").alias("s"),
        )
    )
    w = Window.rangeBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_tot = F.sum("n_days").over(w).cast("double")
    s_tot = F.sum("s").over(w).cast("double")
    return per_dow.select(
        "dow",
        "n_days",
        F.bround(
            F.col("s").cast("double")
            / F.col("n_days").cast("double")
            / F.lit(100.0),
            12,
        ).alias("avg_revenue"),
        F.bround(
            (F.col("s").cast("double") * n_tot)
            / (F.col("n_days").cast("double") * s_tot),
            12,
        ).alias("index"),
    )


REVENUE_DOW_SEASONALITY_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
              AS DECIMAL(38,0)) AS c
  FROM orders GROUP BY 1
),
per_dow AS (
  SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS DECIMAL(38,0)) AS s
  FROM daily GROUP BY 1
)
SELECT dow, n_days,
       round_even(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)
                  / CAST(100.0 AS DOUBLE), 12) AS avg_revenue,
       round_even((CAST(s AS DOUBLE) * CAST(sum(n_days) OVER () AS DOUBLE))
                  / (CAST(n_days AS DOUBLE)
                     * CAST(CAST(sum(s) OVER () AS DECIMAL(38,0)) AS DOUBLE)),
                  12) AS index
FROM per_dow
"""


def part_association_rules(
    lineitem: DataFrame, min_support: int = 3, top_k: int = 50
) -> DataFrame:
    """Association rules from the frequent 2-itemsets — the
    confidence/lift layer over :func:`part_copurchase_pairs`'s
    support counts (the classic market-basket output: "baskets with
    A also contain B"): for each directed rule A→B with joint
    support ≥ ``min_support``, ``confidence = n_AB / n_A`` and
    ``lift = n_AB·N / (n_A·n_B)`` over the N distinct baskets.
    Output: global top ``top_k`` by (lift, confidence, ids),
    ``(antecedent, consequent, n_joint, n_ante, n_cons, confidence,
    lift, rank)``.

    Exactness: all counts are exact integers; confidence and lift
    are fixed-order double expressions of exact ints, 12dp-quantized
    so the rank ORDER itself is engine-stable (sorting on an
    unquantized float invites cross-engine tie flips).

    Scale shape: identical to the pair counting (order-keyed
    self-join bounded by basket size); the rules frame is
    pair-cardinality-sized, per-item counts broadcast onto it, the
    1-row basket total rides the whitelisted broadcast crossJoin,
    and the top-k lowers to TakeOrderedAndProject.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    # the distinct basket scan has FOUR consumers (totals, item
    # counts, both self-join arms) — persist it so the lineitem scan
    # + distinct runs once (the link_prediction_scores rule)
    op = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = op.agg(F.countDistinct("ok").cast("long").alias("__N__"))
    items = op.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("n_i"))
    a = op.select("ok", F.col("pk").alias("pa"))
    b = op.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_joint"))
        .where(F.col("n_joint") >= int(min_support))
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "n_joint"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "n_joint",
        )
    )
    joined = (
        rules.join(
            F.broadcast(items.select(F.col("pk").alias("antecedent"),
                                     F.col("n_i").alias("n_ante"))),
            "antecedent",
        )
        .join(
            F.broadcast(items.select(F.col("pk").alias("consequent"),
                                     F.col("n_i").alias("n_cons"))),
            "consequent",
        )
        .crossJoin(F.broadcast(totals))
    )
    conf = F.bround(
        F.col("n_joint").cast("double") / F.col("n_ante").cast("double"), 12
    )
    lift = F.bround(
        (F.col("n_joint").cast("double") * F.col("__N__").cast("double"))
        / (F.col("n_ante").cast("double") * F.col("n_cons").cast("double")),
        12,
    )
    scored = joined.select(
        "antecedent",
        "consequent",
        "n_joint",
        "n_ante",
        "n_cons",
        conf.alias("confidence"),
        lift.alias("lift"),
    )
    order = [
        F.desc("lift"),
        F.desc("confidence"),
        F.asc("antecedent"),
        F.asc("consequent"),
    ]
    ranked = scored.orderBy(*order).limit(int(top_k))
    w = Window.orderBy(*order)
    return track_persisted(
        ranked.withColumn("rank", F.row_number().over(w).cast("long")), op
    )


# NOTE: inlines its own op/pairs derivation (it needs the JOINT
# COUNTS the shared COPURCHASE_EDGES_CTE drops); the HAVING >= 3
# literal must stay aligned with part_association_rules(min_support=3)
PART_ASSOCIATION_RULES_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
totals AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM op),
items AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_i FROM op GROUP BY 1),
pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS n_joint
  FROM op a JOIN op b USING (ok)
  WHERE a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, n_joint FROM pairs
  UNION ALL
  SELECT pb AS antecedent, pa AS consequent, n_joint FROM pairs
),
scored AS (
  SELECT r.antecedent, r.consequent, r.n_joint,
         ia.n_i AS n_ante, ic.n_i AS n_cons,
         round_even(CAST(r.n_joint AS DOUBLE) / CAST(ia.n_i AS DOUBLE), 12)
           AS confidence,
         round_even((CAST(r.n_joint AS DOUBLE) * CAST(t.n AS DOUBLE))
                    / (CAST(ia.n_i AS DOUBLE) * CAST(ic.n_i AS DOUBLE)), 12)
           AS lift
  FROM rules r
  JOIN items ia ON r.antecedent = ia.pk
  JOIN items ic ON r.consequent = ic.pk
  CROSS JOIN totals t
)
SELECT antecedent, consequent, n_joint, n_ante, n_cons, confidence, lift,
       CAST(row_number() OVER (ORDER BY lift DESC, confidence DESC,
                               antecedent, consequent) AS BIGINT) AS rank
FROM (SELECT * FROM scored
      ORDER BY lift DESC, confidence DESC, antecedent, consequent
      LIMIT 50)
"""


def supplier_return_wilson(
    lineitem: DataFrame,
    z: float = 1.96,
    min_n: int = 20,
    top_k: int = 25,
) -> DataFrame:
    """Suppliers ranked by return rate the statistically honest way:
    by the WILSON score lower bound of the returned-line proportion
    (`l_returnflag = 'R'`), not the raw rate — raw-proportion ranking
    puts a 2/2 supplier above a 190/200 one; the Wilson interval
    (Wilson 1927, the standard fix popularized for rating sort)
    shrinks small-n estimates toward the prior. Output: top ``top_k``
    by ``(wilson_lb desc, suppkey)``: ``(l_suppkey, n_lines,
    n_returns, return_rate, wilson_lb, rank)``.

    Exactness: counts are exact integers; ``return_rate`` and
    ``wilson_lb`` are ONE fixed-association double expression of
    exact ints and the ``z`` literal, 12dp-quantized (sqrt and
    division are correctly rounded IEEE ops — identical across
    engines when the expression tree is spelled identically, which
    the oracle mirrors token for token).

    Scale shape: one map-side-combining aggregate keyed on suppkey
    (supplier-cardinality output), scalar math on the aggregate,
    global top-k lowered to TakeOrderedAndProject.
    """
    g = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_returns"),
        )
        .where(F.col("n_lines") >= int(min_n))
    )
    n = F.col("n_lines").cast("double")
    k = F.col("n_returns").cast("double")
    zz = float(z) * float(z)
    phat = k / n
    lb = (
        phat
        + F.lit(zz) / (F.lit(2.0) * n)
        - F.lit(float(z))
        * F.sqrt(
            (phat * (F.lit(1.0) - phat) + F.lit(zz) / (F.lit(4.0) * n)) / n
        )
    ) / (F.lit(1.0) + F.lit(zz) / n)
    scored = g.select(
        "l_suppkey",
        "n_lines",
        "n_returns",
        F.bround(phat, 12).alias("return_rate"),
        F.bround(lb, 12).alias("wilson_lb"),
    )
    order = [F.desc("wilson_lb"), F.asc("l_suppkey")]
    ranked = scored.orderBy(*order).limit(int(top_k))
    w = Window.orderBy(*order)
    return ranked.withColumn("rank", F.row_number().over(w).cast("long"))


SUPPLIER_RETURN_WILSON_SQL = """
WITH g AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returns
  FROM lineitem GROUP BY 1
  HAVING count(*) >= 20
),
scored AS (
  SELECT l_suppkey, n_lines, n_returns,
         round_even(CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE), 12)
           AS return_rate,
         round_even(
           (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
              + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                / (CAST(2.0 AS DOUBLE) * CAST(n_lines AS DOUBLE))
              - CAST(1.96 AS DOUBLE)
                * sqrt((CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
                          * (CAST(1.0 AS DOUBLE)
                             - CAST(n_returns AS DOUBLE)
                               / CAST(n_lines AS DOUBLE))
                        + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                          / (CAST(4.0 AS DOUBLE) * CAST(n_lines AS DOUBLE)))
                       / CAST(n_lines AS DOUBLE)))
           / (CAST(1.0 AS DOUBLE)
              + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_lines AS DOUBLE)),
           12) AS wilson_lb
  FROM g
)
SELECT l_suppkey, n_lines, n_returns, return_rate, wilson_lb,
       CAST(row_number() OVER (ORDER BY wilson_lb DESC, l_suppkey) AS BIGINT)
         AS rank
FROM (SELECT * FROM scored ORDER BY wilson_lb DESC, l_suppkey LIMIT 25)
"""


COPURCHASE_LINK_PRED_SQL = "WITH " + COPURCHASE_EDGES_CTE + """,
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
  GROUP BY v
),
nbrs AS (
  SELECT a AS w, b AS x FROM e UNION ALL SELECT b AS w, a AS x FROM e
),
centers AS (
  SELECT n.w, n.x, d.deg
  FROM nbrs n JOIN deg d ON n.w = d.v
  WHERE d.deg >= 2 AND d.deg <= 256
),
wedges AS (
  SELECT n1.x AS u, n2.x AS v, n1.deg
  FROM centers n1 JOIN centers n2 ON n1.w = n2.w
  WHERE n1.x < n2.x
),
non_edges AS (
  SELECT u, v, deg FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.u AND e.b = w.v)
),
scored AS (
  SELECT u AS id_u, v AS id_v,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         round_even(CAST(sum(CAST(round_even(
             CAST(1.0 AS DOUBLE) / CAST(deg AS DOUBLE), 12)
           AS DECIMAL(38,12))) AS DOUBLE), 12) AS ra
  FROM non_edges GROUP BY 1, 2
)
SELECT id_u, id_v, common_neighbors, ra,
       CAST(row_number() OVER (ORDER BY ra DESC, common_neighbors DESC,
                               id_u, id_v) AS BIGINT) AS rank
FROM (SELECT * FROM scored
      ORDER BY ra DESC, common_neighbors DESC, id_u, id_v
      LIMIT 50)
"""


def weekend_revenue_welch(orders: DataFrame) -> DataFrame:
    """Welch two-sample t-test of daily revenue, weekend vs weekday —
    "do weekends really sell differently?" with unequal variances
    handled correctly (Welch 1947; the equal-variance Student test is
    wrong whenever group sizes/variances differ, which daily revenue
    always does). One row: ``(n_weekday, n_weekend, mean_weekday,
    mean_weekend, t_stat, welch_dof)``; NULL t/dof when either group
    has <2 days or both variances are zero (the structural ANSI-safe
    guard, as in ``daily_revenue_cusum``).

    Exactness: day sums ride integer cents; group count/sum/sumsq are
    exact (power sums on DECIMAL(38,0)); means, the t statistic and
    the Welch–Satterthwaite dof are fixed-association double
    expressions of those exact ints, quantized magnitude-aware
    (means 6dp at O(1e5); t and dof 8dp at O(1-100)).

    Scale shape: one date-keyed aggregate (day-cardinality output),
    one 1-row conditional fold — nothing data-sized past the first
    map-side combine.
    """
    days = (
        orders.groupBy(F.date_trunc("DAY", F.col("o_orderdate")).alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev__")
        )
        .select(
            (F.dayofweek("d").isin(1, 7)).alias("we"),
            (F.col("__rev__") * 100).cast("decimal(38,0)").alias("x"),
        )
    )
    g = days.agg(
        F.sum(F.when(~F.col("we"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("we"), F.col("x"))).alias("s1"),
        F.sum(F.when(~F.col("we"), F.col("x") * F.col("x"))).alias("q1"),
        F.sum(F.when(F.col("we"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("we"), F.col("x"))).alias("s2"),
        F.sum(F.when(F.col("we"), F.col("x") * F.col("x"))).alias("q2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    # a = var1/n1 = (n1*q1 - s1^2) / (n1^2 * (n1-1)), likewise b
    a = (dec("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast("double") / (
        n1d * n1d * (n1d - F.lit(1.0))
    )
    b = (dec("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast("double") / (
        n2d * n2d * (n2d - F.lit(1.0))
    )
    diff = (dec("n2") * F.col("s1") - dec("n1") * F.col("s2")).cast(
        "double"
    ) / (n1d * n2d)
    ok = (F.col("n1") >= 2) & (F.col("n2") >= 2)
    pos = a + b
    t = F.when(ok & (pos > 0), F.bround(diff / F.sqrt(pos), 8))
    dof = F.when(
        ok & (pos > 0),
        F.bround(
            (pos * pos)
            / (a * a / (n1d - F.lit(1.0)) + b * b / (n2d - F.lit(1.0))),
            8,
        ),
    )
    return g.select(
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        F.bround(F.col("s1").cast("double") / (n1d * F.lit(100.0)), 6).alias(
            "mean_weekday"
        ),
        F.bround(F.col("s2").cast("double") / (n2d * F.lit(100.0)), 6).alias(
            "mean_weekend"
        ),
        t.alias("t_stat"),
        dof.alias("welch_dof"),
    )


WEEKEND_REVENUE_WELCH_SQL = """
WITH days AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
              AS HUGEINT) AS x
  FROM orders GROUP BY 1
),
lab AS (
  SELECT (dayofweek(d) + 1 = 1 OR dayofweek(d) + 1 = 7) AS we, x FROM days
),
g AS (
  SELECT CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         sum(CASE WHEN NOT we THEN x END) AS s1,
         sum(CASE WHEN NOT we THEN x * x END) AS q1,
         CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         sum(CASE WHEN we THEN x END) AS s2,
         sum(CASE WHEN we THEN x * x END) AS q2
  FROM lab
)
SELECT n1 AS n_weekday, n2 AS n_weekend,
       round_even(CAST(s1 AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(100.0 AS DOUBLE)), 6)
         AS mean_weekday,
       round_even(CAST(s2 AS DOUBLE)
                  / (CAST(n2 AS DOUBLE) * CAST(100.0 AS DOUBLE)), 6)
         AS mean_weekend,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND aa + bb > 0 THEN
         round_even((CAST(n2 * s1 - n1 * s2 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                    / sqrt(aa + bb), 8)
       END AS t_stat,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND aa + bb > 0 THEN
         round_even(((aa + bb) * (aa + bb))
                    / (aa * aa / (CAST(n1 AS DOUBLE) - CAST(1.0 AS DOUBLE))
                       + bb * bb
                         / (CAST(n2 AS DOUBLE) - CAST(1.0 AS DOUBLE))), 8)
       END AS welch_dof
FROM (
  SELECT *,
         CAST(n1 * q1 - s1 * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
              * (CAST(n1 AS DOUBLE) - CAST(1.0 AS DOUBLE))) AS aa,
         CAST(n2 * q2 - s2 * s2 AS DOUBLE)
           / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * (CAST(n2 AS DOUBLE) - CAST(1.0 AS DOUBLE))) AS bb
  FROM g
)
"""


def daily_revenue_decompose(orders: DataFrame) -> DataFrame:
    """Additive seasonal-trend decomposition of daily revenue
    (the classical moving-average method: trend = centered 7-day MA,
    seasonal = day-of-week mean of the detrended series, residual =
    the rest) — the "is Tuesday actually down, or is that just the
    trend?" chart. Output: one row per day, ``(day, revenue, trend,
    seasonal, residual)``; the 3 edge days on each end have NULL
    trend/residual (incomplete centered window), and a day-of-week
    that never owns a complete window (series shorter than ~13 days)
    gets NULL seasonal — days are NEVER dropped (left join on the
    seasonal means).

    Exactness: the centered sum and the detrended series stay in
    INTEGER cents — ``D = 7·c − Σ_{±3} c`` is exact DECIMAL(38,0), so
    the per-dow seasonal mean is one fixed double expression of exact
    ints; every emitted double is a single quantized expression
    (6dp — dollar magnitudes).

    Scale shape: one map-side rollup to |days| rows; all windows run
    over the day-sized frame (the ``daily_revenue_cusum`` rule —
    decades of days = thousands of rows; partitionable by series key
    when used per-metric). The dow-seasonal join broadcasts 7 rows.
    """
    daily = (
        orders.groupBy(
            F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev__")
        )
        .select(
            "day", (F.col("__rev__") * 100).cast("decimal(38,0)").alias("c")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    staged = daily.select(
        "day",
        "c",
        F.sum("c").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
        F.dayofweek("day").alias("dow"),
    ).select(
        "day",
        "c",
        "dow",
        F.when(
            F.col("n7") == 7,
            (F.lit(7).cast("decimal(38,0)") * F.col("c") - F.col("s7")).cast(
                "decimal(38,0)"
            ),
        ).alias("d7"),
        F.when(F.col("n7") == 7, F.col("s7")).alias("s7"),
    )
    seas = staged.where(F.col("d7").isNotNull()).groupBy("dow").agg(
        F.sum("d7").alias("sd"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    seasonal = F.bround(
        F.col("sd").cast("double")
        / (F.col("nd").cast("double") * F.lit(700.0)),
        6,
    )
    j = staged.join(
        F.broadcast(seas.select("dow", seasonal.alias("seasonal"))),
        "dow",
        "left",
    )
    detr = F.col("d7").cast("double") / F.lit(700.0)
    return j.select(
        "day",
        F.bround(F.col("c").cast("double") / F.lit(100.0), 6).alias("revenue"),
        F.bround(F.col("s7").cast("double") / F.lit(700.0), 6).alias("trend"),
        "seasonal",
        F.when(
            F.col("d7").isNotNull() & F.col("seasonal").isNotNull(),
            F.bround(detr - F.col("seasonal"), 6),
        ).alias("residual"),
    )


DAILY_REVENUE_DECOMPOSE_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
              AS DECIMAL(38,0)) AS c
  FROM orders GROUP BY 1
),
staged AS (
  SELECT day, c, dayofweek(day) + 1 AS dow,
         CASE WHEN count(*) OVER w = 7 THEN
           CAST(7 AS DECIMAL(38,0)) * c - sum(c) OVER w
         END AS d7,
         CASE WHEN count(*) OVER w = 7 THEN sum(c) OVER w END AS s7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
  SELECT dow,
         round_even(CAST(sum(d7) AS DOUBLE)
                    / (CAST(count(*) AS DOUBLE) * CAST(700.0 AS DOUBLE)), 6)
           AS seasonal
  FROM staged WHERE d7 IS NOT NULL GROUP BY 1
)
SELECT s.day,
       round_even(CAST(s.c AS DOUBLE) / CAST(100.0 AS DOUBLE), 6) AS revenue,
       round_even(CAST(s.s7 AS DOUBLE) / CAST(700.0 AS DOUBLE), 6) AS trend,
       e.seasonal,
       CASE WHEN s.d7 IS NOT NULL AND e.seasonal IS NOT NULL THEN
         round_even(CAST(s.d7 AS DOUBLE) / CAST(700.0 AS DOUBLE) - e.seasonal,
                    6)
       END AS residual
FROM staged s LEFT JOIN seas e USING (dow)
"""


def event_type_xcorr(
    events: DataFrame,
    type_x: str = "view",
    type_y: str = "purchase",
    max_lag: int = 3,
) -> DataFrame:
    """Lead-lag Pearson cross-correlation between the daily counts of
    two event types — "do views predict purchases, and by how many
    days?": for each lag ℓ in ``[-max_lag, max_lag]``, the
    correlation of ``(x_d, y_{d+ℓ})`` over the days both series
    cover. Output: ``(lag, n_days, r)``; positive ℓ means ``type_x``
    LEADS ``type_y`` by ℓ days. NULL r when either series is
    constant over the aligned days (structural ANSI guard).

    Exactness: both series and all five sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) are exact INTEGER sums on
    DECIMAL(38,0); r is one fixed-association double expression per
    lag, 12dp-quantized (|r| ≤ 1 — O(1) magnitude).

    Scale shape: the corpus collapses to two day-cardinality count
    frames BEFORE anything joins; the lag fan-out is a
    2·max_lag+1-way projection explode (no join), the alignment is
    one date-keyed equi-join of day-sized frames, and the output is
    (2·max_lag+1)-row. Nothing data-sized survives the first
    map-side combine.
    """
    xs = (
        events.where(F.col("event_type") == type_x)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("x"))
    )
    ys = (
        events.where(F.col("event_type") == type_y)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("y"))
    )
    lags = list(range(-int(max_lag), int(max_lag) + 1))
    fan = xs.select(
        "d", "x", F.explode(F.array(*[F.lit(l) for l in lags])).alias("lag")
    )
    j = fan.join(
        ys.select(F.col("d").alias("__dy__"), "y"),
        F.date_add(F.col("d"), F.col("lag")) == F.col("__dy__"),
    )
    g = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    r = F.when(
        (vx > 0) & (vy > 0), F.bround(cov / F.sqrt(vx * vy), 12)
    )
    return g.select(
        F.col("lag").cast("long").alias("lag"), "n_days", r.alias("r")
    ).orderBy("lag")


EVENT_TYPE_XCORR_SQL = """
WITH xs AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS HUGEINT) AS x
  FROM events WHERE event_type = 'view' GROUP BY 1
),
ys AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS HUGEINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
fan AS (
  SELECT r.d, r.x, CAST(l AS BIGINT) AS lag
  FROM xs r, unnest([-3, -2, -1, 0, 1, 2, 3]) AS t(l)
),
j AS (
  SELECT f.lag, f.x, c.y
  FROM fan f JOIN ys c ON f.d + CAST(f.lag AS INT) = c.d
),
g AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM j GROUP BY 1
)
SELECT lag, n_days,
       CASE WHEN CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(CAST(n_days AS HUGEINT) * syy - sy * sy AS DOUBLE) > 0
       THEN round_even(
         CAST(CAST(n_days AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                * CAST(CAST(n_days AS HUGEINT) * syy - sy * sy AS DOUBLE)),
         12)
       END AS r
FROM g
"""


def cohort_ltv_matrix(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value matrix — the companion to the retention
    curve (`user_retention_curve` counts who comes back; this sums
    what they SPEND): customers grouped by first-order month, revenue
    accumulated per month-of-age. Output: one row per
    ``(cohort_month, age_months)`` cell with ``n_customers`` (distinct
    active buyers in the cell) and ``revenue``; cumulative-LTV curves
    are a running sum over age within cohort, left to the consumer.

    Exactness: age is pure integer month arithmetic
    (``(y(m)-y(f))·12 + (mo(m)-mo(f))`` — no months_between float);
    revenue sums ride DECIMAL(18,2) and the single decimal→double
    cast is 6dp-quantized (the DuckDB decimal cast is not correctly
    rounded — the documented trap).

    Scale shape: one customer-keyed first-order aggregate joined back
    onto orders (both shuffle on the customer key), then a
    cell-keyed aggregate whose output is |cohorts|·|ages|-sized.
    """
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("MONTH", F.col("o_orderdate"))).alias("__f__")
    )
    j = orders.select(
        "o_custkey",
        F.date_trunc("MONTH", F.col("o_orderdate")).alias("__m__"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("__p__"),
    ).join(firsts, "o_custkey")
    age = (F.year("__m__") - F.year("__f__")) * 12 + (
        F.month("__m__") - F.month("__f__")
    )
    return (
        j.groupBy(
            F.col("__f__").alias("cohort_month"),
            age.cast("long").alias("age_months"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.bround(F.sum("__p__").cast("double"), 6).alias("revenue"),
        )
    )


COHORT_LTV_SQL = """
WITH firsts AS (
  SELECT o_custkey,
         min(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) AS f
  FROM orders GROUP BY 1
),
j AS (
  SELECT o.o_custkey,
         CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS m,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS p, firsts.f
  FROM orders o JOIN firsts USING (o_custkey)
)
SELECT f AS cohort_month,
       CAST((year(m) - year(f)) * 12 + (month(m) - month(f)) AS BIGINT)
         AS age_months,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       round_even(CAST(sum(p) AS DOUBLE), 6) AS revenue
FROM j GROUP BY 1, 2
"""


def part_abc_classes(lineitem: DataFrame, n_buckets: int = 32) -> DataFrame:
    """ABC / Pareto inventory classification — "which 20% of parts
    drive 80% of revenue": parts ranked by gross revenue descending,
    class A while the cumulative share is ≤ 80%, B to 95%, C beyond.
    Output: one row per class, ``(abc_class, n_parts, revenue,
    revenue_share)``.

    The cumulative needs a GLOBAL descending rank — the
    single-partition-window trap, solved with the same two-phase
    bucketed ranking as ``customer_gini`` extended to PREFIX REVENUE:
    percentile cut points (1-row broadcast) define order-preserving
    buckets; per-bucket (count, revenue) prefix-sum on the driver
    (``n_buckets`` rows — model-parameter-sized); each part's
    cumulative revenue = its bucket's revenue offset + an in-bucket
    running sum over a ~n/``n_buckets``-row window. The oracle ranks
    with one direct window — the hash-match proves the two-phase
    cumulative IS the global one.

    Exactness: revenue rides DECIMAL(18,2); cumulative sums are exact
    decimals; CLASS BOUNDARIES are exact integer-scaled decimal
    comparisons (``A ⟺ 10·cum ≤ 8·total``, ``B ⟺ 20·cum ≤ 19·total``)
    — no float touches a classification decision; only the output
    ``revenue``/``revenue_share`` are quantized doubles.
    """
    from pyspark.sql.window import Window

    rev = lineitem.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).alias("__x__")
    )
    bucketed = _percentile_buckets(rev, "l_partkey", n_buckets)
    # descending prefix offsets: buckets with HIGHER revenue first
    parts = bucketed.groupBy("__b__").agg(
        F.sum("__x__").alias("s"), F.count(F.lit(1)).alias("c")
    ).collect()
    parts.sort(key=lambda r: -r["__b__"])
    from decimal import Decimal

    offsets, acc = [], Decimal(0)
    for r in parts:
        offsets.append((r["__b__"], str(acc)))
        acc += r["s"]
    total = acc
    if not parts:
        # EMPTY input only — a zero-sum but non-empty part list still
        # classifies (everything lands in A: 0 ≤ 0), matching the
        # oracle's direct-window replay (review finding)
        return local_frame(
            lineitem.sparkSession,
            [],
            "abc_class string, n_parts long, revenue double,"
            " revenue_share double",
        )
    odf = local_frame(
        lineitem.sparkSession, offsets, "__b__ int, __roff__ string"
    ).select("__b__", F.col("__roff__").cast("decimal(38,2)").alias("__roff__"))
    w = Window.partitionBy("__b__").orderBy(
        F.desc("__x__"), F.asc("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = bucketed.join(F.broadcast(odf), "__b__").select(
        "l_partkey",
        "__x__",
        (F.col("__roff__") + F.sum("__x__").over(w)).alias("__cum__"),
    )
    tot = F.lit(str(total)).cast("decimal(38,2)")
    cls = (
        F.when(F.col("__cum__") * 10 <= tot * 8, F.lit("A"))
        .when(F.col("__cum__") * 20 <= tot * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    out = cum.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("__x__").alias("__rev__"),
    )
    share = (
        F.bround(F.col("__rev__").cast("double") / F.lit(float(total)), 12)
        if total > 0
        else F.lit(None).cast("double")
    )
    return out.select(
        "abc_class",
        "n_parts",
        F.bround(F.col("__rev__").cast("double"), 4).alias("revenue"),
        share.alias("revenue_share"),
    )


PART_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS x
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT l_partkey, x,
         sum(x) OVER (ORDER BY x DESC, l_partkey ASC
                      ROWS UNBOUNDED PRECEDING) AS c,
         sum(x) OVER () AS tot
  FROM rev
),
cls AS (
  SELECT x, tot,
         CASE WHEN c * 10 <= tot * 8 THEN 'A'
              WHEN c * 20 <= tot * 19 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       round_even(CAST(sum(x) AS DOUBLE), 4) AS revenue,
       CASE WHEN any_value(tot) > 0 THEN
         round_even(CAST(sum(x) AS DOUBLE)
                    / CAST(any_value(tot) AS DOUBLE), 12)
       END AS revenue_share
FROM cls GROUP BY 1
"""


def nation_supplier_hhi(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Herfindahl–Hirschman supply-concentration index per nation —
    the antitrust-style "is this market one whale or many minnows"
    number (``HHI = Σ share_i²`` over each nation's suppliers; 1/n =
    perfectly even, →1 = monopoly; regulators flag > 0.25): supplier
    revenue shares within their nation's lineitem revenue. Output:
    ``(n_name, n_suppliers, revenue, hhi)``.

    Exactness: the share division is CLEARED — ``HHI = Σr_i² / R²``
    with ``Σr_i²`` an exact DECIMAL(38,4) sum of decimal squares, so
    hhi is one fixed double expression of two exact decimals,
    12dp-quantized; ``revenue`` is the usual quantized decimal cast.

    Scale shape: supplier and nation are broadcast dimension joins
    (the q5 rule); the only data-sized shuffle keys on
    (nation, supplier); the HHI aggregate is nation-cardinality.
    """
    rev = (
        lineitem.select("l_suppkey", _dec("l_extendedprice").alias("__p__"))
        .join(
            F.broadcast(
                supplier.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("__p__").alias("__r__"))
    )
    g = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("__r__").alias("__R__"),
        F.sum(F.col("__r__") * F.col("__r__")).alias("__S2__"),
    )
    hhi = F.when(
        F.col("__R__") > 0,
        F.bround(
            F.col("__S2__").cast("double")
            / (F.col("__R__").cast("double") * F.col("__R__").cast("double")),
            12,
        ),
    )
    return g.join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
        ),
        "s_nationkey",
    ).select(
        "n_name",
        "n_suppliers",
        F.bround(F.col("__R__").cast("double"), 4).alias("revenue"),
        hhi.alias("hhi"),
    )


NATION_SUPPLIER_HHI_SQL = """
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
g AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         sum(r) AS rr, sum(r * r) AS s2
  FROM rev GROUP BY 1
)
SELECT n.n_name, g.n_suppliers,
       round_even(CAST(g.rr AS DOUBLE), 4) AS revenue,
       CASE WHEN g.rr > 0 THEN
         round_even(CAST(g.s2 AS DOUBLE)
                    / (CAST(g.rr AS DOUBLE) * CAST(g.rr AS DOUBLE)), 12)
       END AS hhi
FROM g JOIN nation n ON g.s_nationkey = n.n_nationkey
"""


def user_event_entropy_summary(events: DataFrame) -> DataFrame:
    """Behavioral-diversity summary: Shannon entropy (base 2) of each
    user's event-type mix, reduced to one row — the "are users
    single-action bots or diverse browsers" diagnostic
    (``share_single_type`` is the bot-smell number; mean entropy
    tracks engagement breadth). Output: ``(n_users, mean_entropy,
    max_entropy, share_single_type)``.

    Exactness: per-type terms are ``p·log2 p`` with ``p = c/n`` —
    BOUNDED magnitude (|p·log2 p| ≤ 0.54), so the 12dp quantization
    of the one transcendental is genuinely active at ANY count scale
    (the cleared ``c·log2 c`` form goes quantization-inert past
    c ≈ 5e3 — review finding, the magnitude-aware rule); quantized
    terms sum as DECIMAL(38,12) per user (exact, order-free),
    ``H = −Σ`` exactly, and the cross-user mean sums the exact
    per-user decimals the same way.

    Scale shape: one (user,type) map-side-combining aggregate, a
    user-keyed total joined back (user-sized both sides), then the
    user fold and the 1-row fold; nothing else.
    """
    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("__c__")
    )
    un = ut.groupBy("user_id").agg(F.sum("__c__").cast("long").alias("__n__"))
    j = ut.join(un, "user_id")
    p = F.col("__c__").cast("double") / F.col("__n__").cast("double")
    term = F.bround(p * F.log2(p), 12).cast("decimal(38,12)")
    per_user = j.groupBy("user_id").agg(
        (-F.sum(term)).alias("__h__"),
        F.count(F.lit(1)).cast("long").alias("__k__"),
    )
    hu = per_user.select(
        "__h__",
        (F.col("__k__") == 1).cast("int").alias("__single__"),
    )
    return hu.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.bround(
            F.sum("__h__").cast("double")
            / F.count(F.lit(1)).cast("double"),
            12,
        ).alias("mean_entropy"),
        F.bround(F.max("__h__").cast("double"), 12).alias("max_entropy"),
        F.bround(
            F.sum("__single__").cast("double")
            / F.count(F.lit(1)).cast("double"),
            12,
        ).alias("share_single_type"),
    )


USER_EVENT_ENTROPY_SQL = """
WITH ut AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
un AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM ut GROUP BY 1),
hu AS (
  SELECT -sum(CAST(round_even(
             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
           AS DECIMAL(38,12))) AS h,
         CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS single
  FROM ut JOIN un USING (user_id)
  GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round_even(CAST(sum(h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 12)
         AS mean_entropy,
       round_even(CAST(max(h) AS DOUBLE), 12) AS max_entropy,
       round_even(CAST(sum(single) AS DOUBLE) / CAST(count(*) AS DOUBLE), 12)
         AS share_single_type
FROM hu
"""


def nation_pct_of_parent(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Hierarchical percent-of-parent revenue — the drill-down OLAP
    staple (each nation's share WITHIN its region, each region's
    share of the total) computed in one pass: revenue aggregated once
    at the nation grain, parent totals derived from that frame (never
    a second scan), shares cleared against exact decimals. Output:
    one row per nation, ``(r_name, n_name, revenue, pct_of_region,
    region_pct_of_total)``.

    Exactness: revenue rides DECIMAL(18,2); both share divisions are
    single fixed double expressions of exact decimal sums,
    12dp-quantized (the decimal→double cast rule).

    Scale shape: customer/nation/region are broadcast dimension
    joins (the q5 rule); the one data-sized aggregate keys on the
    nation; region and grand totals are nation-frame rollups
    (25-row inputs), the grand total a 1-row broadcast.
    """
    rev = (
        orders.select("o_custkey", _dec("o_totalprice").alias("__p__"))
        .join(
            F.broadcast(
                customer.select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey")
        .agg(F.sum("__p__").alias("__r__"))
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    "n_name",
                    "n_regionkey",
                )
            ),
            "c_nationkey",
        )
    )
    reg = rev.groupBy("n_regionkey").agg(F.sum("__r__").alias("__rr__"))
    tot = reg.agg(F.sum("__rr__").alias("__t__"))
    return (
        rev.join(F.broadcast(reg), "n_regionkey")
        .crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(
                region.select(
                    F.col("r_regionkey").alias("n_regionkey"), "r_name"
                )
            ),
            "n_regionkey",
        )
        .select(
            "r_name",
            "n_name",
            F.bround(F.col("__r__").cast("double"), 4).alias("revenue"),
            # structural guards (ANSI divide-by-zero + oracle parity
            # on zero-sum revenue — review finding, the
            # part_abc_classes lesson)
            F.when(
                F.col("__rr__") > 0,
                F.bround(
                    F.col("__r__").cast("double")
                    / F.col("__rr__").cast("double"),
                    12,
                ),
            ).alias("pct_of_region"),
            F.when(
                F.col("__t__") > 0,
                F.bround(
                    F.col("__rr__").cast("double")
                    / F.col("__t__").cast("double"),
                    12,
                ),
            ).alias("region_pct_of_total"),
        )
    )


NATION_PCT_OF_PARENT_SQL = """
WITH rev AS (
  SELECT n.n_name, n.n_regionkey,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
reg AS (SELECT n_regionkey, sum(r) AS rr FROM rev GROUP BY 1),
tot AS (SELECT sum(rr) AS t FROM reg)
SELECT g.r_name, rev.n_name,
       round_even(CAST(rev.r AS DOUBLE), 4) AS revenue,
       CASE WHEN reg.rr > 0 THEN
         round_even(CAST(rev.r AS DOUBLE) / CAST(reg.rr AS DOUBLE), 12)
       END AS pct_of_region,
       CASE WHEN tot.t > 0 THEN
         round_even(CAST(reg.rr AS DOUBLE) / CAST(tot.t AS DOUBLE), 12)
       END AS region_pct_of_total
FROM rev
JOIN reg USING (n_regionkey)
CROSS JOIN tot
JOIN region g ON rev.n_regionkey = g.r_regionkey
"""


def brand_price_anova(part: DataFrame) -> DataFrame:
    """One-way ANOVA of retail price across brands — the k-group
    generalization completing the stats family (chi2 = categorical ×
    categorical, Welch = 2 groups, this = k groups × continuous):
    does brand explain price variance? One row: ``(k, n, f_stat,
    dof_between, dof_within)``; NULL F when within-variance is zero
    or dof degenerate (structural ANSI guard).

    Exactness: per-brand count/sum/square-sum are exact decimals;
    the cross-group assembly (``Σ s_g²/n_g`` has incompatible
    rational denominators, so it can't clear globally) runs as a
    SORTED ARRAY FOLD over the brand-keyed aggregate — brand count
    is bounded (a dimension attribute), the fold order is pinned by
    the sort, and every fold input is an exact-decimal-backed
    double, so the sum is bit-identical cross-engine (the
    windowed-float-sum rule); F is one fixed double expression,
    8dp-quantized (F can reach O(1e3)).

    Scale shape: one map-side-combining brand aggregate (brand-
    cardinality output), one collect-free 1-row fold over it.
    """
    g = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)")).alias("s"),
        F.sum(
            F.col("p_retailprice").cast("decimal(18,2)")
            * F.col("p_retailprice").cast("decimal(18,2)")
        ).alias("q"),
    )
    rows = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("p_brand").alias("b"),
                F.col("n"),
                F.col("s").cast("double").alias("sd"),
                F.col("q").cast("double").alias("qd"),
            )
        )
    )
    agg = g.agg(rows.alias("__rows__"))
    k = F.size("__rows__").cast("double")
    nn = F.aggregate(
        "__rows__", F.lit(0.0), lambda a, r: a + r["n"].cast("double")
    )
    ss = F.aggregate("__rows__", F.lit(0.0), lambda a, r: a + r["sd"])
    qq = F.aggregate("__rows__", F.lit(0.0), lambda a, r: a + r["qd"])
    sn = F.aggregate(
        "__rows__",
        F.lit(0.0),
        lambda a, r: a + (r["sd"] * r["sd"]) / r["n"].cast("double"),
    )
    ssb = sn - (ss * ss) / nn
    ssw = qq - sn
    ok = (k > 1) & (nn > k) & (ssw > 0)
    f = F.when(
        ok,
        F.bround(
            (ssb / (k - F.lit(1.0))) / (ssw / (nn - k)),
            8,
        ),
    )
    # empty-input parity: DuckDB's list() over zero rows is NULL (so
    # every fold is NULL), while Spark's collect_list is an empty
    # array folding to 0.0 — mirror the oracle's NULLs structurally
    # (review finding, the degenerate-input divergence class)
    nonempty = F.size("__rows__") > 0
    return agg.select(
        F.size("__rows__").cast("long").alias("k"),
        F.when(nonempty, nn.cast("long")).alias("n"),
        f.alias("f_stat"),
        (F.size("__rows__") - 1).cast("long").alias("dof_between"),
        F.when(
            nonempty,
            (nn.cast("long") - F.size("__rows__")).cast("long"),
        ).alias("dof_within"),
    )


BRAND_PRICE_ANOVA_SQL = """
WITH g AS (
  SELECT p_brand AS b, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(p_retailprice AS DECIMAL(18,2))) AS s,
         sum(CAST(p_retailprice AS DECIMAL(18,2))
             * CAST(p_retailprice AS DECIMAL(18,2))) AS q
  FROM part GROUP BY 1
),
folded AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         list_sum(list(CAST(n AS DOUBLE) ORDER BY b)) AS nn,
         list_sum(list(CAST(s AS DOUBLE) ORDER BY b)) AS ss,
         list_sum(list(CAST(q AS DOUBLE) ORDER BY b)) AS qq,
         list_sum(list((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / CAST(n AS DOUBLE) ORDER BY b)) AS sn
  FROM g
)
SELECT k, CAST(nn AS BIGINT) AS n,
       CASE WHEN k > 1 AND nn > CAST(k AS DOUBLE)
             AND qq - sn > 0 THEN
         round_even(((sn - (ss * ss) / nn) / (CAST(k AS DOUBLE)
                                              - CAST(1.0 AS DOUBLE)))
                    / ((qq - sn) / (nn - CAST(k AS DOUBLE))), 8)
       END AS f_stat,
       CAST(k - 1 AS BIGINT) AS dof_between,
       CAST(CAST(nn AS BIGINT) - k AS BIGINT) AS dof_within
FROM folded
"""


def mktsegment_monthly_share(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Market-segment revenue mix by month — the composition-shift
    chart behind "is AUTOMOBILE eating FURNITURE's share?" (segment
    drift is the categorical sibling of the PSI price drift already
    in the contract). Output: one row per (month, segment):
    ``(month, c_mktsegment, revenue, share_of_month)``.

    Exactness: revenue rides DECIMAL(18,2); the share is one fixed
    double expression of the cell and month sums (both exact
    decimals), 12dp-quantized; month totals are derived FROM the
    cell frame (no second scan) and joined back month-keyed.

    Scale shape: customer is a broadcast dimension join (the q5
    rule); one (month, segment)-keyed aggregate; the month-total
    rollup and join are month-cardinality-sized.
    """
    cells = (
        orders.select(
            "o_custkey",
            F.date_trunc("MONTH", F.col("o_orderdate")).alias("month"),
            _dec("o_totalprice").alias("__p__"),
        )
        .join(
            F.broadcast(
                customer.select(
                    F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
                )
            ),
            "o_custkey",
        )
        .groupBy("month", "c_mktsegment")
        .agg(F.sum("__p__").alias("__r__"))
    )
    mtot = cells.groupBy("month").agg(F.sum("__r__").alias("__m__"))
    return cells.join(F.broadcast(mtot), "month").select(
        "month",
        "c_mktsegment",
        F.bround(F.col("__r__").cast("double"), 4).alias("revenue"),
        F.when(
            F.col("__m__") > 0,
            F.bround(
                F.col("__r__").cast("double") / F.col("__m__").cast("double"),
                12,
            ),
        ).alias("share_of_month"),
    )


MKTSEGMENT_MONTHLY_SHARE_SQL = """
WITH cells AS (
  SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
         c.c_mktsegment,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
mtot AS (SELECT month, sum(r) AS m FROM cells GROUP BY 1)
SELECT cells.month, cells.c_mktsegment,
       round_even(CAST(cells.r AS DOUBLE), 4) AS revenue,
       CASE WHEN mtot.m > 0 THEN
         round_even(CAST(cells.r AS DOUBLE) / CAST(mtot.m AS DOUBLE), 12)
       END AS share_of_month
FROM cells JOIN mtot USING (month)
"""


def daily_revenue_acf(orders: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..``max_lag``
    — the seasonality detector that needs no period guess (a weekly
    cycle surfaces as an ACF spike at lag 7; the dow-seasonality
    operator then quantifies it). Output: ``(lag, n_days, r)`` per
    lag; NULL r when either aligned slice is constant (structural
    ANSI guard). Pearson r of ``(x_d, x_{d+lag})`` over days where
    both exist — the ``event_type_xcorr`` machinery pointed at one
    series.

    Exactness: day sums ride integer cents (DECIMAL(38,0)); all five
    sufficient statistics are exact integer sums; r is one
    fixed-association double expression per lag, 12dp-quantized.

    Scale shape: the corpus collapses to the day-cardinality frame
    first; the lag fan-out is a projection explode (no join), the
    alignment one date-keyed equi-join of day-sized frames; output
    is ``max_lag``-row.
    """
    rev = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev__")
        )
        .select("d", (F.col("__rev__") * 100).cast("decimal(38,0)").alias("x"))
    )
    lags = list(range(1, int(max_lag) + 1))
    fan = rev.select(
        "d", "x", F.explode(F.array(*[F.lit(l) for l in lags])).alias("lag")
    )
    j = fan.join(
        rev.select(F.col("d").alias("__dy__"), F.col("x").alias("y")),
        F.date_add(F.col("d"), F.col("lag")) == F.col("__dy__"),
    )
    g = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    r = F.when((vx > 0) & (vy > 0), F.bround(cov / F.sqrt(vx * vy), 12))
    return g.select(
        F.col("lag").cast("long").alias("lag"), "n_days", r.alias("r")
    ).orderBy("lag")


def daily_revenue_acf_sql(max_lag: int = 7) -> str:
    """Oracle builder parameterized like the operator (a hardcoded
    lag list would silently misalign with a non-default ``max_lag``
    contract call — review finding, the threshold-misalignment
    class)."""
    lag_list = ", ".join(str(l) for l in range(1, int(max_lag) + 1))
    return DAILY_REVENUE_ACF_SQL_TEMPLATE.format(lags=lag_list)


DAILY_REVENUE_ACF_SQL_TEMPLATE = """
WITH rev AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
              AS HUGEINT) AS x
  FROM orders GROUP BY 1
),
fan AS (
  SELECT r.d, r.x, CAST(l AS BIGINT) AS lag
  FROM rev r, unnest([{lags}]) AS t(l)
),
j AS (
  SELECT f.lag, f.x, c.x AS y
  FROM fan f JOIN rev c ON f.d + CAST(f.lag AS INT) = c.d
),
g AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM j GROUP BY 1
)
SELECT lag, n_days,
       CASE WHEN CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(CAST(n_days AS HUGEINT) * syy - sy * sy AS DOUBLE) > 0
       THEN round_even(
         CAST(CAST(n_days AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                * CAST(CAST(n_days AS HUGEINT) * syy - sy * sy AS DOUBLE)),
         12)
       END AS r
FROM g
"""


def segment_migration_matrix(
    orders: DataFrame, split_date: str = "1998-07-01"
) -> DataFrame:
    """RFM segment migration between two halves of the order history
    — the "are my best customers upgrading or decaying" transition
    matrix: RFM scoring runs independently on the orders before and
    after ``split_date`` (each period's quantile cuts are its own —
    segments are relative standings, so comparing absolute cut
    points across periods would conflate drift with mix), then the
    per-customer segment codes are full-outer joined. Customers
    absent from a period appear against the ``'ABSENT'`` marker (the
    acquisition / churn rows of the matrix). Output: ``(seg_from,
    seg_to, n_customers)``.

    Exactness: both halves ARE :func:`rfm_segments` (and the oracle
    composes the proven RFM oracle verbatim with only the source
    relation swapped — the hybrid-RRF composition rule), so the
    matrix adds nothing but an integer count over a full-outer join.

    Scale shape: two customer-sized RFM frames (each the
    broadcast-cut scoring plan), one customer-keyed full-outer join,
    a (segment x segment)-cardinality aggregate (≤ 126²).
    """
    d = F.to_date("o_orderdate")
    cut = F.lit(split_date).cast("date")
    p1 = rfm_segments(orders.where(d < cut)).select(
        "o_custkey", F.col("segment").alias("__s1__")
    )
    p2 = rfm_segments(orders.where(d >= cut)).select(
        "o_custkey", F.col("segment").alias("__s2__")
    )
    j = p1.join(p2, "o_custkey", "full_outer")
    return j.groupBy(
        F.coalesce(F.col("__s1__"), F.lit("ABSENT")).alias("seg_from"),
        F.coalesce(F.col("__s2__"), F.lit("ABSENT")).alias("seg_to"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_customers"))


def segment_migration_oracle_sql(split_date: str = "1998-07-01") -> str:
    """Composes the PROVEN RFM oracle verbatim over each period's
    source relation (string-swap of ``FROM orders`` only, so the two
    replays can never drift from the contract RFM oracle)."""
    src1 = (
        "(SELECT * FROM orders WHERE CAST(o_orderdate AS DATE)"
        f" < DATE '{split_date}')"
    )
    src2 = (
        "(SELECT * FROM orders WHERE CAST(o_orderdate AS DATE)"
        f" >= DATE '{split_date}')"
    )
    rfm1 = RFM_SEGMENTS_SQL.strip().replace("FROM orders", f"FROM {src1}")
    rfm2 = RFM_SEGMENTS_SQL.strip().replace("FROM orders", f"FROM {src2}")
    return f"""
WITH p1 AS MATERIALIZED ({rfm1}),
p2 AS MATERIALIZED ({rfm2})
SELECT coalesce(p1.segment, 'ABSENT') AS seg_from,
       coalesce(p2.segment, 'ABSENT') AS seg_to,
       CAST(count(*) AS BIGINT) AS n_customers
FROM p1 FULL OUTER JOIN p2 USING (o_custkey)
GROUP BY 1, 2
"""


def topk_customer_overlap(
    orders: DataFrame, k: int = 100, split_date: str = "1998-07-01"
) -> DataFrame:
    """Stability of the top-``k`` spender set across the two halves
    of the order history — the concentration-churn diagnostic
    ("is the whale list the SAME whales?") that the migration matrix
    summarizes distributionally and this reduces to one number:
    Jaccard overlap of the two top-``k`` customer sets. One row:
    ``(k, n_p1, n_p2, n_overlap, jaccard)`` (``n_p1/n_p2`` < k when
    a period has fewer customers; NULL jaccard when both empty).

    Exactness: membership is decided by exact decimal spend with the
    (spend desc, custkey) total order; overlap/union are integer
    counts; jaccard one int/int division 12dp.

    Scale shape: per-period customer aggregates -> global top-k via
    TakeOrderedAndProject (k rows each) -> an inner join and a 1-row
    fold over k-row frames.
    """
    d = F.to_date("o_orderdate")
    cut = F.lit(split_date).cast("date")

    def top(side):
        return (
            side.groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "__s__"
                )
            )
            .orderBy(F.desc("__s__"), F.asc("o_custkey"))
            .limit(int(k))
            .select("o_custkey")
        )

    # the top-k id sets are PARAMETER-sized (k rows) — collect each
    # once and finish with set arithmetic, instead of re-running the
    # aggregation+TakeOrdered pipeline for every count (review
    # finding: count() + semi-join.count() evaluated each lazy top-k
    # plan twice)
    ids1 = {r[0] for r in top(orders.where(d < cut)).collect()}
    ids2 = {r[0] for r in top(orders.where(d >= cut)).collect()}
    n1, n2 = len(ids1), len(ids2)
    n_ov = len(ids1 & ids2)
    union = n1 + n2 - n_ov
    jac = round(n_ov / union, 12) if union > 0 else None
    return local_frame(
        orders.sparkSession,
        [(int(k), n1, n2, n_ov, jac)],
        "k long, n_p1 long, n_p2 long, n_overlap long, jaccard double",
    )


def topk_customer_overlap_sql(
    k: int = 100, split_date: str = "1998-07-01"
) -> str:
    return f"""
WITH t1 AS (
  SELECT o_custkey FROM (
    SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
    FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '{split_date}'
    GROUP BY 1 ORDER BY s DESC, o_custkey LIMIT {k}
  )
),
t2 AS (
  SELECT o_custkey FROM (
    SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
    FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{split_date}'
    GROUP BY 1 ORDER BY s DESC, o_custkey LIMIT {k}
  )
),
c AS (
  SELECT CAST((SELECT count(*) FROM t1) AS BIGINT) AS n1,
         CAST((SELECT count(*) FROM t2) AS BIGINT) AS n2,
         CAST((SELECT count(*) FROM t1 SEMI JOIN t2 USING (o_custkey))
              AS BIGINT) AS nov
)
SELECT CAST({k} AS BIGINT) AS k, n1 AS n_p1, n2 AS n_p2,
       nov AS n_overlap,
       CASE WHEN n1 + n2 - nov > 0 THEN
         round_even(CAST(nov AS DOUBLE) / CAST(n1 + n2 - nov AS DOUBLE), 12)
       END AS jaccard
FROM c
"""
