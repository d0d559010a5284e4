"""session helpers: ``local_frame`` (driver-local rows as a job-free
LocalRelation) and the codegen-cache setting of ``get_spark``."""

import ast
import math
import os
from functools import reduce

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bht_etl_app_spark import local_frame
from bht_etl_app_spark.streaming.events import EVENTS_STREAM_SCHEMA
from tests.conftest import jobs_in_group

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bht_etl_app_spark"
)

# (rows, schema) for the schema of every local_frame call site in the
# package, with the awkward values: None, NaN, 2**40 in a long, nested
# arrays, non-ASCII strings and zero rows
PARITY_CASES = [
    ([([[1.0, 2.0], [3.0, float("nan")]], [0.5, None])],
     "mat array<array<double>>, bias array<double>"),
    ([(1, 2**40, 0), (2, 5, None)], "sel_rank long, vec_id long, dist_sq long"),
    ([(1, "ä", "日本", 3), (2, "a", "b", 2**40)],
     "rank int, lhs string, rhs string, freq long"),
    ([("TOM", "Indomie"), ("aware", "Café")], "group string, brand string"),
    ([], "group string, brand string"),
    ([("nps", None), ("n", 0.0)], "metric string, value double"),
    ([("1-URGENT", 0, 0, 7), (None, 3, 2**40, 9)],
     "__p__ string, __ob__ int, __off__ long, __n__ long"),
    ([(0, "view", 10, 100.0), (1, "click", 0, float("nan"))],
     "step_idx long, step string, n_users long, pct_of_first double"),
    ([(0, 0), (1, 2**40)], "__b__ int, __off__ long"),
    ([], "abc_class string, n_parts long, revenue double, revenue_share double"),
    ([(3, "12345678901234.25"), (1, "0")], "__b__ int, __roff__ string"),
    ([(100, 5, 6, 0, None)],
     "k long, n_p1 long, n_p2 long, n_overlap long, jaccard double"),
    ([(0, 0), (7, 12)], "__bucket__ int, __off__ long"),
    ([(1, 1), (2**40, 1)], "doc_id bigint, cluster_id bigint"),
    ([("b", "a"), ("ü", "a")], "doc_id string, cluster_id string"),
    ([], "id long, rank double"),
    ([(4, 5, 1, 8, 0.375), (0, 0, 0, 0, None)],
     "n_nodes long, n_edges long, n_triangles long, n_wedges long,"
     " global_clustering double"),
    ([([-(2**63), 2**63 - 1, 0],)], "__bloom__ array<long>"),
    ([(0, 0, 0)], "__b__ int, __row_off__ long, __mass_off__ long"),
    ([("part-0.parquet", 2**40), ("ñ/part-1.parquet", 0)],
     "rel_path string, n_bytes long"),
    ([], EVENTS_STREAM_SCHEMA),
]


@pytest.mark.parametrize("rows,schema", PARITY_CASES)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())


def test_local_frame_runs_no_job(spark):
    df = local_frame(
        spark,
        [([[1.0, 0.0], [0.0, 1.0]], [0.5, 0.5])],
        "mat array<array<double>>, bias array<double>",
    )
    group = f"local-frame-{os.getpid()}-{id(df)}"
    in_group, started = jobs_in_group(spark, group, df.collect)
    assert (in_group, started) == (0, 0)


def test_local_frame_typed_errors(spark):
    ddl = "a long, b string"
    with pytest.raises(ValueError, match=r"row 1 has 1 values.*struct<a:bigint,b:string>"):
        local_frame(spark, [(1, "x"), (2,)], ddl)
    with pytest.raises(TypeError, match=r"column 'a' of schema struct<a:bigint,b:string>"):
        local_frame(spark, [("not a number", "x")], ddl)
    with pytest.raises(TypeError, match=r"column 'n' of schema struct<n:int>"):
        local_frame(spark, [(2**40,)], "n int")
    strict = StructType([StructField("id", LongType(), nullable=False)])
    with pytest.raises(ValueError, match=r"column 'id' of schema struct<id:bigint>"):
        local_frame(spark, [(1,), (None,)], strict)
    with pytest.raises(TypeError, match="not a struct"):
        local_frame(spark, [(1,)], "bigint")


def test_local_frame_empty_is_typed(spark):
    df = local_frame(spark, [], "id long, rank double")
    assert df.dtypes == [("id", "bigint"), ("rank", "double")]
    assert df.collect() == []
    assert math.isnan(local_frame(spark, [(float("nan"),)], "x double").first()[0])


def test_package_builds_no_frame_from_python_lists():
    """Every driver-local frame in the package goes through
    ``local_frame``. The only other ``createDataFrame`` calls allowed are
    ``local_frame``'s own (an Arrow table) and the pandas path of the
    reader facade."""
    allowed = {("session.py", "table"), (os.path.join("io", "readers.py"), "pdf")}
    found = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    first = ast.unparse(node.args[0]) if node.args else ""
                    if (rel, first) not in allowed:
                        found.append(f"{rel}:{node.lineno} createDataFrame({first}, ...)")
    assert found == []


def test_codegen_cache_keeps_classes_across_queries(spark):
    """A query built a second time from scratch reuses its compiled
    classes, even after more distinct classes than Spark's default
    cache holds (100) were compiled in between."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metric.METRIC_COMPILATION_TIME().getCount

    def build():
        a = spark.range(200).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
        b = spark.range(50).select(
            (F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("w")
        )
        return (
            a.groupBy("k").agg(F.sum("v").alias("s"))
            .join(b.groupBy("k").agg(F.max("w").alias("m")), "k")
            .orderBy("k")
            .collect()
        )

    first = build()
    # 60 one-row scans with distinct literals: 120 distinct classes
    frames = [
        spark.range(0, 1, 1, 1).selectExpr(f"id * {i + 11} + {i} AS x")
        for i in range(60)
    ]
    reduce(lambda x, y: x.unionAll(y), frames).collect()
    before = compiles()
    assert build() == first
    assert compiles() - before == 0
