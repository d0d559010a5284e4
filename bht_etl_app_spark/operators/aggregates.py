"""Aggregation operators (SURVEY.md §2.3, reference app.py).

Every operator is a lazy DataFrame -> DataFrame transformation built
from native Spark expressions — no Python UDFs, so plans stay inside
whole-stage codegen and scale by partitioning.

Scale notes (the 100 TB posture):

- Grand totals are computed as a 1-row aggregate cross-joined back with
  a broadcast hint instead of an unpartitioned window. An empty-window
  ``sum() over ()`` drags every row into ONE partition — fine on 60k
  rows, fatal on 100 TB. ``crossJoin(broadcast(total))`` keeps the
  partitioning and adds one tiny scalar job.
- Per-column "selected" counts are ONE single-pass conditional
  aggregate over all columns (map-side partial agg, zero shuffle of raw
  data) instead of the reference's loop of full-column scans.
- Full tabulation unpivots all columns into one long frame and does a
  single groupBy — one shuffle total instead of N per-column passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bht_etl_app_spark.functions.exprs import (
    brands_from_binary_columns,
    non_empty,
    pandas_str,
    sel_predicate,
    to_double,
    weight_expr,
)
from bht_etl_app_spark.session import local_frame


def safe_value_counts(df: DataFrame, col: str) -> DataFrame:
    """A1 — ``safe_value_counts`` (app.py:84-92): drop null/empty,
    stringify+trim, count per value, order count desc.
    Output schema: ``(option: string, count: long)``.
    """
    return (
        df.where(non_empty(col))
        .select(F.trim(F.col(col).cast("string")).alias("option"))
        .groupBy("option")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "option")
    )


def _with_broadcast_total(agg_df: DataFrame, value_col: str, total_name: str) -> DataFrame:
    """Attach the grand total of ``value_col`` as a column via a broadcast
    cross join of the 1-row total — partition-preserving at any scale."""
    total = agg_df.agg(F.sum(value_col).alias(total_name))
    return agg_df.crossJoin(F.broadcast(total))


def freq_table(
    df: DataFrame,
    col: str,
    weight_col: str | None = None,
    decimals: int = 1,
) -> DataFrame:
    """A3 — weighted per-value frequency of one column (app.py:108-115).

    pandas semantics preserved: group key is ``astype(str).str.strip()``
    (NULL -> literal "nan" bucket participates), count = sum of weights
    (double), ``pct_total = round(count / total * 100, decimals)``,
    literal column name prepended, sorted count desc.
    Output schema: ``(column, value, count: double, pct_total: double)``.
    """
    w = weight_expr(df, weight_col)
    grouped = (
        df.select(F.trim(pandas_str(col)).alias("value"), w.alias("__w__"))
        .groupBy("value")
        .agg(F.sum("__w__").alias("count"))
    )
    return (
        _with_broadcast_total(grouped, "count", "__total__")
        .select(
            F.lit(col).alias("column"),
            "value",
            "count",
            # nullif guard: an all-zero weight vector gives total = 0;
            # pandas emits NaN (0/0) there, our NULL is the Spark analog
            # (and ANSI mode would otherwise raise DIVIDE_BY_ZERO)
            F.bround(
                F.col("count") / F.nullif(F.col("__total__"), F.lit(0.0)) * 100,
                decimals,
            ).alias("pct_total"),
        )
        .orderBy(F.desc("count"), "value")
    )


def multi_dim_tabulation(
    df: DataFrame,
    dims: list[str],
    weight_col: str | None = None,
    percent_by: str = "total",
    decimals: int = 1,
) -> DataFrame:
    """A5 — group by 2-3 dims with NULL groups kept (pandas
    ``dropna=False``; Spark groupBy keeps NULL keys natively),
    count = sum(w); pct vs grand total or vs one dim level with
    0-denominator -> NULL (app.py:159-178).
    Output schema: ``(*dims, count: double, pct: double)``.
    """
    w = weight_expr(df, weight_col)
    grp = df.groupBy(*dims).agg(F.sum(w).alias("count"))
    if percent_by == "total":
        out = _with_broadcast_total(grp, "count", "__total__").select(
            *dims,
            "count",
            F.bround(
                F.col("count") / F.nullif(F.col("__total__"), F.lit(0.0)) * 100,
                decimals,
            ).alias("pct"),
        )
    elif percent_by in dims:
        # per-level denominator: window partitioned by the level — the
        # partitioning key spreads groups, no single-partition collapse.
        from pyspark.sql.window import Window

        denom = F.sum("count").over(Window.partitionBy(percent_by))
        # pandas transform("sum") groupby drops NaN keys -> rows whose
        # level is NULL get a NULL pct (app.py:174 semantics)
        pct = F.when(
            F.col(percent_by).isNull(), F.lit(None).cast("double")
        ).otherwise(
            F.bround(F.col("count") / F.nullif(denom, F.lit(0.0)) * 100, decimals)
        )
        out = grp.select(*dims, "count", pct.alias("pct"))
    else:
        out = grp.select(*dims, "count", F.lit(None).cast("double").alias("pct"))
    return out


def selected_counts(df: DataFrame, cols: list[str], brand_names: list[str] | None = None) -> DataFrame:
    """A6/A7 — per-column "selected" count (awareness unaided/aided,
    usage funnel; app.py:396-434). For each mapped column, count rows
    passing the sel-predicate; emit ``(brand, count)`` rows.

    Single-pass conditional aggregate over ALL columns at once (the
    reference loops one full scan per column): map-side partial agg,
    1-row result, then a driver-free melt via stack().
    Output schema: ``(brand: string, count: long)``.
    """
    cols = [c for c in cols if c in df.columns]
    if not cols:
        raise ValueError("no mapped columns present in the DataFrame")
    names = brand_names or cols
    agg_row = df.agg(
        *[
            F.sum(sel_predicate(c).cast("long")).alias(f"__c{i}")
            for i, c in enumerate(cols)
        ]
    )
    stack_args = ", ".join(
        f"'{n}', coalesce(__c{i}, 0L)" for i, n in enumerate(names)
    )
    return agg_row.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (brand, count)"
    )


def satisfaction_table(df: DataFrame, csat_col: str) -> DataFrame:
    """A8 — CSAT summary (app.py:437-444). Long output
    ``(metric, value)`` with rows mean / top2_box / n.

    Quirk preserved: ``top2_box = (s >= s.max()-1).mean()`` over the
    FULL row count (NaN compares False but stays in the denominator);
    NULL when the column is entirely null. ``n`` is the non-null count.
    Two passes (max first, then conditional agg) — the max is a 1-row
    broadcast, so both passes are full map-side aggregates.
    """
    s = to_double(F.col(csat_col))
    mx = df.agg(F.max(s).alias("__mx__"))
    agg = (
        df.crossJoin(F.broadcast(mx))
        .agg(
            F.avg(s).alias("mean"),
            (
                F.sum((s >= F.col("__mx__") - 1).cast("long"))
                # nullif: empty input -> 0 rows; pandas .mean() of an
                # empty mask is NaN, our NULL (ANSI would raise)
                / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
            ).alias("top2"),
            F.count(s).alias("n"),
        )
    )
    return agg.selectExpr(
        "stack(3, 'mean', mean, 'top2_box', top2, 'n', cast(n as double))"
        " as (metric, value)"
    )


def nps_table(df: DataFrame, nps_col: str) -> DataFrame:
    """A9 — NPS summary (app.py:447-459): detractors 0-6, passives 7-8,
    promoters 9-10, n = non-null count, nps = (prom/n - detr/n)*100.

    Returns the 5-row long form ``(metric, value)``. The reference's
    n==0 short form (2 rows) is an eager, data-dependent shape decision
    — handled in the pipeline facade, not in this lazy operator (nps
    value is NULL when n == 0 here).
    """
    s = to_double(F.col(nps_col))
    agg = df.agg(
        F.sum(((s >= 0) & (s <= 6)).cast("long")).alias("detractors"),
        F.sum(((s >= 7) & (s <= 8)).cast("long")).alias("passives"),
        F.sum(((s >= 9) & (s <= 10)).cast("long")).alias("promoters"),
        F.count(s).alias("n"),
    )
    return agg.selectExpr(
        "stack(5,"
        " 'nps', (promoters / nullif(cast(n as double), 0.0)"
        "   - detractors / nullif(cast(n as double), 0.0)) * 100,"
        " 'n', cast(n as double),"
        " 'promoters', cast(promoters as double),"
        " 'passives', cast(passives as double),"
        " 'detractors', cast(detractors as double)"
        ") as (metric, value)"
    )


def full_tabulation(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A10 — frequency table for EVERY column (app.py:519-531):
    stringify+trim each cell (NULL -> "nan"), emit long rows
    ``(column, value, count)``, unweighted.

    One unpivot + one groupBy = one shuffle for all columns, vs the
    reference's per-column loop over the whole frame.
    """
    cols = cols or df.columns
    stringified = df.select(
        *[F.trim(pandas_str(c)).alias(c) for c in cols]
    )
    long = stringified.unpivot([], cols, "column", "value")
    return long.groupBy("column", "value").agg(F.count(F.lit(1)).alias("count"))


def brand_dictionary(
    df: DataFrame,
    tom_col: str | None,
    groups: dict[str, list[str]],
) -> DataFrame:
    """A11 — brand dictionary (app.py:464-476, 494-503): per group, the
    sorted distinct TOM values (from data) plus decoded brand names from
    mapped column names (metadata). Output ``(group, brand)`` rows.

    The TOM side is a distinct() query; the column-name side is pure
    driver metadata turned into literal rows (``local_frame``) — no job.
    """
    spark = df.sparkSession
    parts = []
    if tom_col and tom_col in df.columns:
        t = F.trim(F.col(tom_col).cast("string"))
        parts.append(
            df.where(F.col(tom_col).isNotNull())
            .select(t.alias("brand"))
            .where(F.col("brand") != "")
            .distinct()
            .select(F.lit("TOM").alias("group"), "brand")
        )
    rows = []
    for group, cols in groups.items():
        for b in brands_from_binary_columns(cols):
            rows.append((group, b))
    if rows:
        parts.append(local_frame(spark, rows, "group string, brand string"))
    if not parts:
        return local_frame(spark, [], "group string, brand string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
