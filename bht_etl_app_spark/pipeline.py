"""BhtPipeline — the programmatic replacement for the reference's
Streamlit "🚀 Transform Data" flow (app.py:462-615): one cached input
DataFrame + a mapping config in, a dict of lazily-defined aggregate
tables out.

Differences from the reference's execution model, by design:

- Lazy, evaluated once: every output table is a Spark DataFrame marked
  ``cache()``. Nothing runs until a sink (or the caller) acts on a
  table; the first action materializes it, and every later sink of the
  same run reads it from memory instead of re-aggregating. The output
  caches, and the input cache of ``transform(cache=True)``, are tied to
  the returned tables through ``functions.lifecycle``: they are freed
  when the caller drops the tables or calls ``lifecycle.release`` on
  one of them (release frees that table's cache and the shared input
  cache; the other tables stay correct and recompute).
- Single-scan aggregates: the reference loops one full-column scan per
  mapped brand column (app.py:398-428); selected_counts collapses each
  family into one conditional aggregate pass.
- The one eager exception: the reference's NPS n==0 short form
  (app.py:455-456) is a data-dependent output *shape*; transform()
  stays lazy (5-row form with NULL nps) and ``nps_short_form`` is the
  explicit eager helper that reproduces the 2-row form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bht_etl_app_spark.config import MappingConfig
from bht_etl_app_spark.functions.lifecycle import carry, track_persisted
from bht_etl_app_spark.operators import (
    brand_dictionary,
    crosstab_table,
    full_tabulation,
    multi_dim_tabulation,
    nps_table,
    safe_value_counts,
    satisfaction_table,
    selected_counts,
)
from bht_etl_app_spark.session import local_frame


class BhtPipeline:
    """Transform a wide respondent table into dashboard-ready
    aggregates per a MappingConfig (reference entry point 2, §3 of
    SURVEY.md)."""

    def __init__(self, config: MappingConfig | dict, weight_col: str | None = None):
        self.config = (
            config if isinstance(config, MappingConfig) else MappingConfig.from_dict(config)
        )
        self.weight_col = weight_col

    def transform(self, df: DataFrame, cache: bool = True) -> dict[str, DataFrame]:
        """Build every output table the mapping supports. Mirrors
        app.py:478-531 table naming exactly. With ``cache`` the input
        is cached for as long as any returned table lives (unless the
        caller cached it already)."""
        cfg = self.config
        input_owner = None
        if cache and not df.is_cached:  # a caller's own cache stays theirs
            df = df.cache()
            input_owner = track_persisted(_twin(df), df)
        out: dict[str, DataFrame] = {}

        # awareness (app.py:385-417)
        if cfg.tom and cfg.tom in df.columns:
            out["awareness_tom"] = safe_value_counts(df, cfg.tom).withColumnRenamed(
                "option", "brand"
            )
        if any(c in df.columns for c in cfg.unaided):
            out["awareness_unaided"] = selected_counts(df, cfg.unaided)
        if any(c in df.columns for c in cfg.aided):
            out["awareness_aided"] = selected_counts(df, cfg.aided)

        # usage funnel (app.py:420-434)
        for cols, name in (
            (cfg.ever_used, "usage_ever_used"),
            (cfg.bumo, "usage_bumo"),
            (cfg.consider, "usage_consider"),
        ):
            if any(c in df.columns for c in cols):
                out[name] = selected_counts(df, cols)

        # satisfaction / NPS (app.py:437-459)
        if cfg.csat and cfg.csat in df.columns:
            out["satisfaction_summary"] = satisfaction_table(df, cfg.csat)
        if cfg.nps and cfg.nps in df.columns:
            out["nps_summary"] = nps_table(df, cfg.nps)

        # brand dictionary (app.py:464-476, 494-503)
        out["brand_dictionary"] = brand_dictionary(
            df,
            cfg.tom,
            {
                "Unaided": cfg.unaided,
                "Aided": cfg.aided,
                "Ever Used": cfg.ever_used,
                "BUMO": cfg.bumo,
                "Consideration": cfg.consider,
            },
        )

        # full tabulation (app.py:519-531)
        out["tabulation"] = full_tabulation(df)
        _cached(*out.values())
        if input_owner is not None:
            for table in out.values():
                carry(table, input_owner)
        return out

    def crosstab(self, df: DataFrame, rows: str, cols: str, **kw) -> DataFrame:
        """6B advanced crosstab (app.py:555-561)."""
        table = crosstab_table(df, rows, cols, weight_col=self.weight_col, **kw)
        _cached(table)
        return table

    def multi_tabulation(self, df: DataFrame, dims: list[str], **kw) -> DataFrame:
        """6C multi-level tabulation, capped at 3 dims (app.py:570-572)."""
        table = multi_dim_tabulation(df, dims[:3], weight_col=self.weight_col, **kw)
        _cached(table)
        return table

    @staticmethod
    def nps_short_form(nps_df: DataFrame) -> DataFrame:
        """Eagerly reproduce the reference's n==0 2-row short form
        (app.py:455-456); pass the output of transform()["nps_summary"]."""
        rows = {r["metric"]: r["value"] for r in nps_df.collect()}
        spark = nps_df.sparkSession
        if rows.get("n") == 0.0:
            return local_frame(
                spark, [("nps", None), ("n", 0.0)], "metric string, value double"
            )
        return nps_df


def _twin(df: DataFrame) -> DataFrame:
    """A second Python handle on ``df``'s Dataset. The lifecycle
    finalizer must hold a frame other than the one it watches, or the
    watched frame could never be collected."""
    return DataFrame(df._jdf, df.sparkSession)


# Unless this is true, Spark plans a cached query with AQE's final-stage
# partition coalescing off: a cached 3-row aggregate would keep
# spark.sql.shuffle.partitions partitions, and the parquet sink would
# write that many part files where the uncached query writes one.
_CACHED_PLAN_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _cached(*tables: DataFrame) -> None:
    """Mark output tables ``cache()`` (lazy), planned with the same
    partition coalescing as the uncached query, and free each cache
    when its table is dropped or released. The session setting above
    is switched on only while the caches are registered."""
    conf = tables[0].sparkSession.conf
    prev = conf.get(_CACHED_PLAN_AQE)
    conf.set(_CACHED_PLAN_AQE, "true")
    try:
        for table in tables:
            track_persisted(table.cache(), _twin(table))
    finally:
        conf.set(_CACHED_PLAN_AQE, prev)
