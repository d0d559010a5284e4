"""The benchmark workloads and how each checks its outputs.

A workload pass is a fixed list of *queries*. Each query has three
phases, which the traced run times separately:

- ``build``: Python DataFrame construction, including any Spark jobs
  the program runs eagerly while constructing (fits, localCheckpoints);
- ``plan``: ``queryExecution().executedPlan()`` of every output frame;
- ``execute``: ``collect()`` (fixture queries) or the three sinks
  (survey pipeline).

The untraced run skips the separate plan call and goes straight from
build to execute, as a caller of the library would.
"""

from __future__ import annotations

import json
import os
import shutil

# Sizes and lists are chosen so a whole run, Spark start-up and the cold
# pass included, takes about a minute on 4 cores. The costs are per job
# and per query rather than per row at these sizes, so the fixture list
# keeps the cheapest query per layer it is meant to exercise
# (BENCHMARK.json "workloads" says why each workload exists).
FIXTURE_QUERIES = [
    "pq_codes",                 # operators.pq/clustering: thread-pool k-means fits
    "knn_vec0",                 # operators.similarity: exact top-k scan
    "q3_top_orders",            # plans.tpch: join + top-k
    "customer_order_ranks",     # plans.windows: window ranks
    "cohort_ltv_matrix",        # plans.analytics: cohort pivot
    "quantity_moments",         # plans.arrays: array aggregate
    "corpus_snapshot_diff",     # operators.corpus: snapshot full-outer diff
    "dsir_doc_weights",         # operators.selection/dedup/text: hashed n-gram weights
    "exact_substr_stats",       # operators.substr_dedup: duplicated-span cover
    "kn_doc_logprob",           # operators.ngram_lm: Kneser-Ney trigram scoring
    "bpe_merges",               # operators.bpe: BPE merge training
    "unigram_train",            # operators.unigram_tok: unigram LM training
]

# min_warm_passes: a fixture pass and a survey pass each take about
# 15 s warm, too long to afford more than one within the run budget.
# trace_passes: (untraced, traced) warm passes of a --trace 1 run.
WORKLOADS = {
    "survey_etl": {
        "kind": "survey",
        "size": {"n_rows": 1000, "n_brands": 10},
        "min_warm_passes": 1,
        "trace_passes": (2, 1),
    },
    "fixture_queries": {
        "kind": "fixtures",
        "size": {"n_orders": 1500, "n_docs": 150, "n_vecs": 300},
        "queries": FIXTURE_QUERIES,
        "min_warm_passes": 1,
        "trace_passes": (2, 1),
    },
}


class FixtureQuery:
    """One ``queries()`` contract entry over the generated fixture dir."""

    def __init__(self, name, fn, data_dir):
        self.name, self.fn, self.data_dir = name, fn, data_dir

    def build(self, spark):
        return self.fn(spark, self.data_dir)

    @staticmethod
    def frames(df):
        return [df]

    @staticmethod
    def execute(df):
        return df.columns, [tuple(r) for r in df.collect()]


class SurveyPipeline:
    """The paper's flow: ingest -> codebook -> mapping -> transform ->
    crosstabs / multi-tabulation -> JSON, Excel and parquet bundles."""

    name = "survey_pipeline"

    def __init__(self, paths, out_dir):
        self.paths, self.out_dir = paths, out_dir

    def build(self, spark):
        from bht_etl_app_spark.config import MappingConfig
        from bht_etl_app_spark.io import apply_codebook, read_codebook, read_table
        from bht_etl_app_spark.pipeline import BhtPipeline

        raw = read_table(spark, self.paths["survey"])
        df = apply_codebook(raw, read_codebook(spark, self.paths["codebook"]))
        pipe = BhtPipeline(MappingConfig.guess(df.columns), weight_col="weight")
        tables = pipe.transform(df)
        tables["crosstab_region_sec"] = pipe.crosstab(df, "region", "sec")
        tables["crosstab_occupation_region"] = pipe.crosstab(
            df, "occupation", "region", percent="col"
        )
        tables["multi_gender_region_sec"] = pipe.multi_tabulation(
            df, ["gender", "region", "sec"]
        )
        return tables

    @staticmethod
    def frames(tables):
        return list(tables.values())

    def execute(self, tables):
        from bht_etl_app_spark.io import (
            write_excel_bundle,
            write_json_bundle,
            write_parquet_bundle,
        )

        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        out = {
            "json": os.path.join(self.out_dir, "bundle.json"),
            "excel": os.path.join(self.out_dir, "bundle.xlsx"),
            "parquet": os.path.join(self.out_dir, "parquet"),
        }
        write_json_bundle(tables, out["json"])
        write_excel_bundle(tables, out["excel"])
        write_parquet_bundle(tables, out["parquet"])
        # the check reads the written files, so keep what this pass wrote
        with open(out["json"]) as f:
            bundle = json.load(f)
        parquet_rows = {}
        import pyarrow.parquet as pq

        for name in tables:
            parquet_rows[name] = pq.read_table(os.path.join(out["parquet"], name)).num_rows
        return {
            "bundle": bundle,
            "parquet_rows": parquet_rows,
            "excel_bytes": os.path.getsize(out["excel"]),
        }


def make_queries(workload: str, manifest: dict, work_dir: str):
    spec = WORKLOADS[workload]
    if spec["kind"] == "survey":
        return [SurveyPipeline(manifest["paths"], os.path.join(work_dir, "out"))]
    import __spark_entry__

    contract = __spark_entry__.queries()
    data_dir = os.path.dirname(manifest["paths"]["orders"])
    return [FixtureQuery(n, contract[n], data_dir) for n in spec["queries"]]


# --- correctness ----------------------------------------------------------

class OracleChecker:
    """Fixture queries against ``__spark_entry__.oracle_sql()`` on DuckDB
    views over the generated tables, with the value normalization of
    ``tools/check_oracle.py`` (row count, sorted column names, and an
    order-insensitive exact comparison with floats by ``repr``)."""

    def __init__(self, manifest):
        import duckdb

        import __spark_entry__
        from tools.check_oracle import normalize

        self._normalize = normalize
        self._oracles = __spark_entry__.oracle_sql()
        self._con = duckdb.connect()
        for name, path in manifest["paths"].items():
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self._expected = {}

    def expected(self, name):
        if name not in self._expected:
            cur = self._con.execute(self._oracles[name])
            cols = [d[0] for d in cur.description]
            self._expected[name] = (sorted(cols), self._normalize(cur.fetchall(), cols))
        return self._expected[name]

    def check(self, name, output) -> str | None:
        """None when ``output`` matches the oracle, else the reason."""
        cols, rows = output
        exp_cols, exp_rows = self.expected(name)
        if sorted(cols) != exp_cols:
            return f"columns {sorted(cols)} != {exp_cols}"
        if len(rows) != len(exp_rows):
            return f"rowcount {len(rows)} != {len(exp_rows)}"
        try:
            got = self._normalize(rows, cols)
        except TypeError as e:
            return str(e)
        if got != exp_rows:
            diffs = [(a, b) for a, b in zip(got, exp_rows) if a != b][:2]
            return f"values differ, first diffs: {diffs}"
        return None


class SurveyChecker:
    """Survey bundle tables against the pandas reference kernels in
    ``tests/pandas_ref.py``, computed from the same CSV and codebook."""

    def __init__(self, manifest):
        import pandas as pd

        from bht_etl_app_spark.config import guess_mapping
        from tests import pandas_ref as ref

        paths = manifest["paths"]
        df = pd.read_csv(paths["survey"])
        cb = pd.read_csv(paths["codebook"], dtype=str)
        for col, sub in cb.groupby("column"):
            m = dict(zip(sub["value"], sub["label"]))
            df[col] = df[col].map(lambda v, m=m: v if pd.isna(v) else m.get(str(v), v))
        cfg = guess_mapping(list(df.columns))
        aw, us = cfg["awareness"], cfg["usage"]
        w = "weight"
        exp = {
            "awareness_tom": ref.safe_value_counts(df[aw["tom"]]).rename(columns={"option": "brand"}),
            "awareness_unaided": ref.selected_counts(df, aw["unaided"]),
            "awareness_aided": ref.selected_counts(df, aw["aided"]),
            "usage_ever_used": ref.selected_counts(df, us["ever_used"]),
            "usage_bumo": ref.selected_counts(df, us["bumo"]),
            "usage_consider": ref.selected_counts(df, us["consider"]),
            "satisfaction_summary": ref.satisfaction_table(df, cfg["satisfaction"]["csat"]),
            "nps_summary": ref.nps_table(df, cfg["nps"]["score"]),
            "tabulation": ref.full_tabulation(df),
            "crosstab_region_sec": ref.crosstab_table(df, "region", "sec", weight_col=w),
            "crosstab_occupation_region": ref.crosstab_table(
                df, "occupation", "region", weight_col=w, percent="col"
            ),
            "multi_gender_region_sec": ref.multi_dim_tabulation(
                df, ["gender", "region", "sec"], weight_col=w
            ),
        }
        tom = df[aw["tom"]].dropna().astype(str).str.strip()
        self._tom_brands = set(tom[tom.ne("")])
        self._expected = exp

    def check(self, name, output) -> str | None:
        import pandas as pd

        bundle = output["bundle"]
        problems = []
        for table, exp in self._expected.items():
            if table not in bundle:
                problems.append(f"{table}: missing")
                continue
            got = pd.DataFrame(bundle[table])
            err = _frame_diff(got, exp)
            if err:
                problems.append(f"{table}: {err}")
        got_tom = {r["brand"] for r in bundle.get("brand_dictionary", []) if r["group"] == "TOM"}
        if got_tom != self._tom_brands:
            problems.append("brand_dictionary: TOM brands differ")
        for table, rows in bundle.items():
            if output["parquet_rows"].get(table) != len(rows):
                problems.append(f"{table}: parquet rows {output['parquet_rows'].get(table)} != {len(rows)}")
        if output["excel_bytes"] <= 0:
            problems.append("excel bundle is empty")
        return "; ".join(problems[:3]) or None


def _frame_diff(got, exp) -> str | None:
    """Order-insensitive comparison with the tolerance of the unit
    tests' ``assert_frames_equal`` (rtol 1e-9); None when equal."""
    import pandas as pd

    exp = exp.reset_index(drop=True)
    exp.columns = [str(c) for c in exp.columns]
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    cols = sorted(exp.columns)
    got, exp = got[cols].copy(), exp[cols].copy()
    for frame in (got, exp):
        for c in cols:
            if frame[c].dtype == object:
                frame[c] = frame[c].map(lambda v: None if pd.isna(v) else str(v))
    key = [c for c in cols if got[c].dtype == object] or cols
    got = got.sort_values(key, na_position="first").reset_index(drop=True)
    exp = exp.sort_values(key, na_position="first").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False, rtol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


def make_checker(workload: str, manifest: dict):
    if WORKLOADS[workload]["kind"] == "survey":
        return SurveyChecker(manifest)
    return OracleChecker(manifest)
