"""Window-function, sessionization, as-of, percentile and set-op
query surface.

The reference has NO window functions, time-series ops, percentiles
or set algebra (SURVEY.md §2.4); this module is the engine's
general-analytics extension of those categories, expressed with
native Spark windows / set ops so Catalyst handles the physical plan
(one shuffle per partition key, in-partition sorts, AQE-coalesced
output).

Determinism rules (so DuckDB value-hashes match):
- every window ORDER BY carries a unique tiebreak column;
- money/quantity sums run through DECIMAL(18,2) then cast to double;
- ranks/counters cast to long;
- time gaps use integer microseconds (``unix_micros`` /
  ``epoch_us``) — the fixture timestamps have sub-second precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bht_etl_app_spark.operators.timeseries import (
    SESSIONIZE_SQL_CTE as _SESSIONIZE_SQL_CTE,
)

from bht_etl_app_spark.operators.timeseries import (
    asof_join,
    range_join_recent,
    session_stats,
)
from bht_etl_app_spark.session import local_frame


def _dec(col: str):
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# ranking / lag / running totals
# ---------------------------------------------------------------------------

def customer_order_ranks(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders per customer with row_number / rank / dense_rank.
    One shuffle on o_custkey; both windows share the partitioning so
    Spark plans a single exchange with two in-partition sorts."""
    w_det = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_price = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w_det).cast("long").alias("rn"),
            F.rank().over(w_price).cast("long").alias("rnk"),
            F.dense_rank().over(w_price).cast("long").alias("drnk"),
        )
        .where(F.col("rn") <= k)
    )


CUSTOMER_ORDER_RANKS_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
         CAST(rank()       OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
         CAST(dense_rank() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC) AS BIGINT) AS drnk
  FROM orders
) WHERE rn <= 3
"""


def customer_order_gaps(orders: DataFrame) -> DataFrame:
    """Days since the customer's previous order (lag); null for the
    first order. Single shuffle on o_custkey."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.datediff(d, F.lag(d).over(w)).cast("long").alias("gap_days"),
    )


CUSTOMER_ORDER_GAPS_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(date_diff('day',
                      lag(CAST(o_orderdate AS DATE)) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey),
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
FROM orders
"""


def running_monthly_revenue(orders: DataFrame) -> DataFrame:
    """Per-priority cumulative monthly revenue: aggregate to month
    grain first (map-side combine shrinks the shuffle), then a running
    DECIMAL sum per priority — exact, so the cumulative doubles are
    bit-identical across engines."""
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "o_orderpriority",
        "month",
        F.col("rev").cast("double").alias("month_revenue"),
        F.sum("rev").over(w).cast("double").alias("cum_revenue"),
    )


RUNNING_MONTHLY_REVENUE_SQL = """
WITH m AS (
  SELECT o_orderpriority,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, month,
       CAST(rev AS DOUBLE) AS month_revenue,
       CAST(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY month
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
FROM m
"""


# ---------------------------------------------------------------------------
# sessionization + as-of join (operators in operators/timeseries.py)
# ---------------------------------------------------------------------------

def sessionized_event_stats(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    return session_stats(
        events, user_col="user_id", ts_col="ts",
        gap_seconds=gap_seconds, value_col="value",
    )


SESSIONIZED_EVENT_STATS_SQL = (
    "WITH " + _SESSIONIZE_SQL_CTE.format(gap=1800) + """
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY 1, 2
"""
)


def purchase_asof_prior_view(events: DataFrame) -> DataFrame:
    """As-of join within the events table: every 'purchase' event gets
    the most recent prior (inclusive) 'view' by the same user, plus
    the gap in microseconds; nulls when the user never viewed before
    purchasing."""
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    joined = asof_join(
        purchases, views,
        left_key="user_id", right_key="user_id",
        left_time="ts", right_time="view_ts",
        payload=["view_event_id", "view_ts"],
        right_tiebreak="view_event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).cast("long").alias("gap_us"),
    )


PURCHASE_ASOF_PRIOR_VIEW_SQL = """
WITH v AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
p AS (
  SELECT event_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, v.view_event_id,
       CAST(epoch_us(p.ts) - epoch_us(v.view_ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts >= v.view_ts
"""


def session_window_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native Spark ``session_window`` in BATCH mode (same operator the
    streaming path uses, streaming/events.py:sessionized_counts) —
    cross-validates the engine's built-in session semantics against the
    gap-island formulation the oracle uses.

    Spark's session merge rule: an event extends the session iff its
    ts is STRICTLY inside [start, last_ts + gap); a gap of exactly
    ``gap`` starts a new session — hence the >= in the oracle SQL
    (note the off-by-one difference from ``sessionize``'s strict->
    threshold, which follows the classic islands convention).
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


SESSION_WINDOW_STATS_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
"""


def error_recent_click_counts(events: DataFrame, before_seconds: int = 300) -> DataFrame:
    """Range join (bucketed-band trick, operators/timeseries.py:
    range_join_recent): for every 'error' event, how many 'click'
    events the same user made in the preceding 5 minutes (inclusive of
    the error instant, exclusive of -5:00 exactly)."""
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = range_join_recent(
        errors, clicks,
        left_key="user_id", right_key="c_user",
        left_time="ts", right_time="c_ts",
        before_seconds=before_seconds,
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("c_ts").alias("n_recent_clicks")
    )


ERROR_RECENT_CLICK_COUNTS_SQL = """
SELECT e.event_id, e.user_id, COUNT(c.c_ts) AS n_recent_clicks
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events WHERE event_type = 'click') c
  ON c.c_user = e.user_id
 AND c.c_ts <= e.ts
 AND c.c_ts > e.ts - INTERVAL 5 MINUTE
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

def order_price_percentiles(orders: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per priority (Spark `percentile`
    == DuckDB `quantile_cont`: both linear interpolation). Exact
    percentile sorts each group; the 100 TB path is
    `approx_percentile` (t-digest sketch, single pass) — same API
    shape, kept exact here so the oracle can hash-match."""
    return orders.groupBy("o_orderpriority").agg(
        F.bround(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.bround(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.bround(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORDER_PRICE_PERCENTILES_SQL = """
SELECT o_orderpriority,
       round_even(quantile_cont(o_totalprice, 0.25), 6) AS p25,
       round_even(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       round_even(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


def moving_avg_revenue(orders: DataFrame, frame: int = 3) -> DataFrame:
    """Sliding ROWS frame: 3-month moving average of monthly revenue
    per priority. The average divides an exact decimal frame-sum by
    the frame row count (both window aggregates over the same frame),
    so values are engine-independent."""
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("month")
        .rowsBetween(-(frame - 1), Window.currentRow)
    )
    return monthly.select(
        "o_orderpriority",
        "month",
        F.bround(
            F.sum("rev").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double"),
            6,
        ).alias("moving_avg_revenue"),
    )


MOVING_AVG_REVENUE_SQL = """
WITH m AS (
  SELECT o_orderpriority,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, month,
       round_even(CAST(SUM(rev) OVER w AS DOUBLE)
                  / CAST(COUNT(*) OVER w AS DOUBLE), 6) AS moving_avg_revenue
FROM m
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """Latest-record-per-key compaction (the upsert/snapshot pattern:
    dedupe an append-only log to its newest state per key). One shuffle
    on the key; at scale this is the standard CDC/merge read-side
    materialization."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


LATEST_EVENT_PER_USER_SQL = """
SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------

def purchase_and_click_users(events: DataFrame) -> DataFrame:
    """INTERSECT (distinct semantics): users with both a purchase and
    a click."""
    p = events.where(F.col("event_type") == "purchase").select("user_id")
    c = events.where(F.col("event_type") == "click").select("user_id")
    return p.intersect(c)


PURCHASE_AND_CLICK_USERS_SQL = """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'click'
"""


def view_not_purchase_user_days(events: DataFrame) -> DataFrame:
    """EXCEPT (distinct semantics): (user, day) pairs with a view but
    no purchase that day."""
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    v = events.where(F.col("event_type") == "view").select("user_id", day)
    p = events.where(F.col("event_type") == "purchase").select("user_id", day)
    return v.subtract(p)


VIEW_NOT_PURCHASE_USER_DAYS_SQL = """
SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
FROM events WHERE event_type = 'purchase'
"""


#: upper bound on two-phase ranking cut-point buckets — enough to keep
#: per-task sorts small, independent of cluster shuffle-partition conf
_MAX_DECILE_CUT_BUCKETS = 64


def order_price_deciles(orders: DataFrame, num_buckets: int | None = None) -> DataFrame:
    """Equal-frequency bucketing (``ntile`` semantics) plus
    distribution ranks (``percent_rank``, ``cume_dist``) of each
    order's total price within its priority class.

    A plain ``Window.partitionBy(o_orderpriority)`` would sort ~20 %
    of the table in ONE task (5-value partition key, per-row output)
    — a 100×-scale killer. Instead: two-phase distributed ranking
    with broadcast ``approx_percentile`` cut-points (the
    ``training_order`` bucket-offset pattern applied to value order):

    1. one-pass sketch of global price cut-points (driver gets
       ``num_buckets-1`` doubles — model-parameter-sized);
    2. each row's bucket = #cut-points below its price (boundary
       quality affects only balance, never correctness);
    3. per ``(priority, bucket)`` counts -> broadcast prefix-sum
       offsets (≤ 5 × num_buckets longs to the driver);
    4. global rank within priority = offset + intra-bucket
       ``row_number`` — window partitions are bounded at ~N/buckets
       rows, so every sort fits a task at any scale.

    ``ntile``/``percent_rank``/``cume_dist`` are then pure arithmetic
    over (rank, group size): the order includes unique ``o_orderkey``
    so there are no ties, making ``percent_rank = (r-1)/(n-1)`` and
    ``cume_dist = r/n`` exact, and the ntile bucket reproducible from
    the standard first-``n%10``-buckets-get-one-extra rule. Output is
    bit-identical to the single-window plan (pinned by pytest parity).
    """
    spark = orders.sparkSession
    # Cap the cut-point count ONLY for the conf-derived default:
    # buckets just bound per-task sort size (~N/n_b rows), so 64 is
    # plenty, and deriving n_b UNCAPPED from
    # spark.sql.shuffle.partitions would grow the bucket expression
    # with cluster config (2000 partitions -> 2000-term expression,
    # the codegen-bomb shape). An EXPLICIT num_buckets is honored
    # as requested — the caller asked for that ntile bucket count
    # (r4 ADVICE: silently clamping it changed the output contract) —
    # but validated against the same codegen-bomb bound.
    if num_buckets is not None:
        if not 0 < num_buckets <= 1000:
            raise ValueError(
                "num_buckets must be in [1, 1000] (the bucket CASE "
                f"chain is one term per cut-point); got {num_buckets}"
            )
        n_b = num_buckets
    else:
        n_b = min(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            _MAX_DECILE_CUT_BUCKETS,
        )
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("__price__"),
    )
    qs = ", ".join(str(i / n_b) for i in range(1, n_b))
    cuts = [
        float(x)
        for x in base.select(
            F.expr(f"approx_percentile(__price__, array({qs}), 1000)").alias("c")
        ).first()["c"]
    ]
    # bucket = #cut-points below the price; the CASE chain is bounded
    # by the cap above, so expression size is independent of cluster
    # conf. (An array-fold with an outer lambda reference was tried
    # and hits a Catalyst bind error under the vanilla driver session.)
    bucket_sql = " + ".join(
        f"(CASE WHEN __price__ > {c!r} THEN 1 ELSE 0 END)" for c in cuts
    ) or "0"
    bucketed = base.select(
        "o_orderkey",
        "o_orderpriority",
        "__price__",
        F.expr(bucket_sql).cast("int").alias("__b__"),
    )
    counts = bucketed.groupBy("o_orderpriority", "__b__").count().collect()
    counts.sort(key=lambda r: (r["o_orderpriority"], r["__b__"]))
    rows, acc = [], {}
    for r in counts:
        p = r["o_orderpriority"]
        rows.append([p, r["__b__"], acc.get(p, 0)])
        acc[p] = acc.get(p, 0) + r["count"]
    odf = local_frame(
        spark,
        [(p, b, off, acc[p]) for p, b, off in rows],
        "__p__ string, __ob__ int, __off__ long, __n__ long",
    )
    w = Window.partitionBy("o_orderpriority", "__b__").orderBy(
        F.col("__price__").asc(), F.col("o_orderkey").asc()
    )
    joined = bucketed.join(
        F.broadcast(odf),
        (F.col("o_orderpriority") == F.col("__p__"))
        & (F.col("__b__") == F.col("__ob__")),
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "__n__",
        (F.col("__off__") + F.row_number().over(w)).cast("long").alias("__r__"),
    )
    r_, n_ = F.col("__r__"), F.col("__n__")
    # ntile(10): first n%10 buckets hold n div 10 + 1 rows
    sz, rem = (n_ / F.lit(10)).cast("long"), n_ % 10
    thresh = rem * (sz + 1)
    tile = F.when(
        r_ <= thresh, ((r_ + sz) / (sz + F.lit(1))).cast("long")
    ).otherwise(rem + ((r_ - thresh + sz - 1) / F.greatest(sz, F.lit(1))).cast("long"))
    return joined.select(
        "o_orderkey",
        "o_orderpriority",
        tile.alias("price_decile"),
        F.bround(
            F.when(n_ == 1, F.lit(0.0)).otherwise(
                (r_ - F.lit(1)).cast("double") / (n_ - F.lit(1)).cast("double")
            ),
            6,
        ).alias("pct_rank"),
        F.bround(r_.cast("double") / n_.cast("double"), 6).alias("cum_dist"),
    )


ORDER_PRICE_DECILES_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(10) OVER w AS BIGINT) AS price_decile,
       round_even(percent_rank() OVER w, 6) AS pct_rank,
       round_even(cume_dist() OVER w, 6) AS cum_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


def orders_unpivot_metrics(orders: DataFrame) -> DataFrame:
    """Wide-to-long reshape via native ``unpivot`` (the inverse of the
    crosstab pivot): per order, one row per (metric, value) for the
    numeric columns. Pure per-row projection — ``unpivot`` lowers to
    an Expand node (no shuffle, no UDF); the reshape that feeds
    metric-agnostic downstream aggregation at any scale.
    """
    return orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        F.col("o_custkey").cast("double").alias("cust_key"),
    ).unpivot(
        ids=["o_orderkey"],
        values=["total_price", "order_year", "cust_key"],
        variableColumnName="metric",
        valueColumnName="value",
    )


ORDERS_UNPIVOT_SQL = """
SELECT o_orderkey, metric, value FROM (
  SELECT o_orderkey,
         CAST(o_totalprice AS DOUBLE) AS total_price,
         CAST(year(CAST(o_orderdate AS DATE)) AS DOUBLE) AS order_year,
         CAST(o_custkey AS DOUBLE) AS cust_key
  FROM orders
) UNPIVOT (value FOR metric IN (total_price, order_year, cust_key))
"""


def order_price_percentiles_approx(orders: DataFrame, accuracy: int = 10000) -> DataFrame:
    """Sketch-based percentiles (``approx_percentile``) — the single
    pass, fixed-memory path that replaces the exact per-group sort of
    :func:`order_price_percentiles` at 100 TB. The sketch is
    mergeable across partitions (map-side partial, tiny reduce), so
    cost is one scan regardless of group skew. Values are
    engine-specific (sketch quantiles) -> rows-only contract check;
    the exact variant stays the oracle-checked twin.
    """
    return orders.groupBy("o_orderpriority").agg(
        F.bround(
            F.expr(f"approx_percentile(o_totalprice, 0.25, {accuracy})"), 6
        ).alias("p25"),
        F.bround(
            F.expr(f"approx_percentile(o_totalprice, 0.5, {accuracy})"), 6
        ).alias("p50"),
        F.bround(
            F.expr(f"approx_percentile(o_totalprice, 0.9, {accuracy})"), 6
        ).alias("p90"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def customer_trailing_30d_spend(orders: DataFrame) -> DataFrame:
    """RANGE-frame window (the remaining frame type beside ROWS):
    per order, the customer's order count and spend within the
    trailing 30 days INCLUSIVE of the current order — a value-based
    frame over event time, not a row count, so gaps and bursts are
    handled correctly.

    The frame orders by epoch seconds (long) because range frames
    need a numeric/ordinal sort key; partitioned by customer, so the
    window never concentrates rows beyond one customer's history —
    scale-safe, one shuffle on the key.
    """
    secs = F.unix_timestamp(F.col("o_orderdate")).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(secs)
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


CUSTOMER_TRAILING_30D_SPEND_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(o_orderdate AS DATE) AS order_date,
       COUNT(*) OVER w AS n_orders_30d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY epoch(CAST(o_orderdate AS TIMESTAMP))
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
"""
