import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from bht_etl_app_spark import get_spark

    import tempfile

    warehouse = tempfile.mkdtemp(prefix="bht-warehouse-")
    s = get_spark(
        "bht-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.warehouse.dir": warehouse,
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def survey_pdf():
    """Synthetic survey frame exercising every edge the reference
    kernels care about: NULLs, empty strings, whitespace, literal "0",
    "0.0", non-numeric weights, all-null columns."""
    return pd.DataFrame(
        {
            "resp_id": [1, 2, 3, 4, 5, 6, 7, 8],
            "gender": ["M", "F", "F", np.nan, "M", "F", "M", ""],
            "age_group": ["18-24", "25-34", "25-34", "35-44", np.nan, "18-24", "45+", "25-34"],
            "UA_Indomie": ["1", "", np.nan, "0", "0.0", " 0", "yes", "No"],
            "UA_Sedaap": [np.nan, np.nan, "x", "0", "1", "1", "", "0"],
            "aa_Supermi": ["1", "1", "1", "1", np.nan, "0", "0", "1"],
            "tom_brand": ["Indomie", "Sedaap", "", np.nan, "Indomie", "Supermi", " Indomie ", "Sedaap"],
            "csat": ["5", "4", np.nan, "3", "bad", "5", "2", "4"],
            "nps_score": ["10", "9", "7", "6", np.nan, "0", "8", "abc"],
            "weight": ["1.5", "2", np.nan, "0.5", "x", "1", "1", "2"],
        }
    )


@pytest.fixture(scope="session")
def survey_sdf(spark, survey_pdf):
    return spark.createDataFrame(survey_pdf)


def assert_frames_equal(spark_df, pdf_expected, sort_by=None, check_dtype=False):
    """Order-insensitive comparison of a Spark result against a pandas
    golden frame."""
    got = spark_df.toPandas()
    exp = pdf_expected.reset_index(drop=True)
    assert sorted(got.columns) == sorted(exp.columns), (
        f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    cols = sorted(got.columns)
    got = got[cols]
    exp = exp[cols]
    sort_by = sort_by or cols
    got = got.sort_values(sort_by).reset_index(drop=True)
    exp = exp.sort_values(sort_by).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=check_dtype, check_exact=False, rtol=1e-9)


def jobs_in_group(spark, group, fn):
    """``(jobs fn() ran in job group group, jobs the session started
    meanwhile)``. Job ids are handed out in order, so the second number
    counts every job of the call, pool threads included; the first
    counts those that carried the caller's job group."""
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = scheduler.nextJobId() - before
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), started


def duckdb_oracle_rows(sql, sf_dir, tables=("documents",)):
    """Run an oracle SQL string against the parquet fixtures the way
    the driver gate does (tables pre-registered as views). Returns
    (column_names, rows)."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    cur = con.execute(sql)
    return [c[0] for c in cur.description], cur.fetchall()


def norm_oracle_rows(rows, cols):
    """Driver-style normalization for Spark-vs-oracle rehearsals:
    columns sorted by name, floats by repr, rows sorted by a repr key
    so NULL cells stay totally ordered (None < str comparisons raise).
    Shared by every oracle-rehearsal test (one copy — a fix to the
    normalization cannot drift per-file)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (
            tuple(
                repr(float(r[i])) if isinstance(r[i], float) else r[i]
                for i in order
            )
            for r in rows
        ),
        key=lambda t: tuple(map(repr, t)),
    )
