"""Tests for the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import sys
import threading
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import inputs  # noqa: E402
from eventlog import parse, plan_counts  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from worker import declared_per_layer, module_layers  # noqa: E402


@pytest.mark.parametrize("kind,size", [
    ("survey", {"n_rows": 300, "n_brands": 3}),
    ("fixtures", {"n_orders": 300, "n_docs": 40, "n_vecs": 30}),
])
def test_same_seed_same_content_hash(tmp_path, kind, size):
    a = inputs.generate(kind, str(tmp_path / "a"), 7, size)
    b = inputs.generate(kind, str(tmp_path / "b"), 7, size)
    c = inputs.generate(kind, str(tmp_path / "c"), 8, size)
    assert a["sha256"] == b["sha256"]
    assert a["sha256"] != c["sha256"]


def test_fixture_shape():
    import numpy as np

    t = inputs.make_fixtures(np.random.default_rng(0), 600, 200, 50)
    assert t["lineitem"].num_rows == 4 * t["orders"].num_rows
    texts = t["documents"].column("text").to_pylist()
    dups = sum(x.endswith(" dup") for x in texts)
    assert 0 < dups < len(texts) // 5
    ts = t["events"].column("ts").to_pylist()
    assert ts == sorted(ts)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "outer", "x", 0.0, 10.0, None, 1),
        Span(2, "a", "x", 1.0, 3.0, 1, 2),     # overlaps b (another thread)
        Span(3, "b", "x", 2.0, 5.0, 1, 3),
        Span(4, "c", "x", 8.0, 12.0, 1, 1),    # clipped to the parent's end
        Span(5, "d", "x", 2.5, 2.75, 3, 3),    # grandchild: only b's self shrinks
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[2] == pytest.approx(2.0)


def test_pool_spans_keep_their_parent():
    tracer = Tracer()
    mod = types.ModuleType("bht_etl_app_spark.operators.fake")
    exec(
        "import time\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "def leaf(x):\n"
        "    time.sleep(0.05)\n"
        "    return x\n"
        "def fan_out(n):\n"
        "    with ThreadPoolExecutor(max_workers=n) as pool:\n"
        "        return list(pool.map(leaf, range(n)))\n",
        mod.__dict__,
    )
    user = types.ModuleType("caller")
    user.fan_out = mod.fan_out
    original_submit = concurrent.futures.ThreadPoolExecutor.submit
    tracer.install([mod, user])
    try:
        assert user.fan_out is mod.fan_out
        assert hasattr(user.fan_out, "__wrapped__")
        assert user.fan_out(3) == [0, 1, 2]
    finally:
        tracer.uninstall()
    assert concurrent.futures.ThreadPoolExecutor.submit is original_submit
    assert not hasattr(user.fan_out, "__wrapped__")
    (outer,) = [s for s in tracer.spans if s.name == "operators.fake.fan_out"]
    leaves = [s for s in tracer.spans if s.name == "operators.fake.leaf"]
    assert len(leaves) == 3
    assert all(s.parent == outer.sid for s in leaves)
    assert {s.thread for s in leaves} != {threading.get_ident()}
    # the leaves run concurrently, so the parent's self time excludes
    # their union, not their sum
    st = self_times(tracer.spans)
    union = max(s.end for s in leaves) - min(s.start for s in leaves)
    assert st[outer.sid] == pytest.approx((outer.end - outer.start) - union, abs=1e-6)
    assert sum(s.end - s.start for s in leaves) > union


def _node(name, *children):
    return {"nodeName": name, "simpleString": name, "children": list(children)}


def test_plan_counts_skips_codegen_wrappers_and_reused_subtrees():
    scan = _node("WholeStageCodegen (1)", _node("HashAggregate", _node("Range")))
    exchange = _node("Exchange", scan)
    plan = _node(
        "AdaptiveSparkPlan",
        _node("ResultQueryStage", _node("WholeStageCodegen (3)", _node(
            "SortMergeJoin",
            _node("InputAdapter", _node("AQEShuffleRead", _node("ShuffleQueryStage", exchange))),
            _node("InputAdapter", _node("ShuffleQueryStage", _node("ReusedExchange", exchange))),
        ))),
    )
    # AdaptiveSparkPlan ResultQueryStage SortMergeJoin AQEShuffleRead
    # ShuffleQueryStage Exchange HashAggregate Range ShuffleQueryStage
    # ReusedExchange
    assert plan_counts(plan) == (10, 2)


def test_eventlog_job_total_matches_the_log(tmp_path):
    """Record a small event log and check the parser's job total against
    the number of job-start events in the file."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        for i in range(3):
            sc.setJobGroup(f"g{i}", f"g{i}")
            spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
    finally:
        spark.stop()
    (name,) = os.listdir(log_dir)
    path = str(log_dir / name)
    with open(path) as f:
        starts = sum(json.loads(line)["Event"] == "SparkListenerJobStart" for line in f)
    log = parse(path)
    assert starts >= 4
    assert len(log.jobs) == starts
    grouped = [j for j in log.jobs.values() if j["group"]]
    assert {j["group"] for j in grouped} == {"g0", "g1", "g2"}
    assert sum(st.tasks for st in log.stages.values()) > 0
    # each grouped aggregate ran as one SQL execution whose kept plan is
    # the final adaptive plan, with its one shuffle
    execs = [e for e in log.executions.values() if e.group]
    assert sorted(e.group for e in execs) == ["g0", "g1", "g2"]
    for e in execs:
        assert e.plan["simpleString"] == "AdaptiveSparkPlan isFinalPlan=true"
        assert plan_counts(e.plan)[1] == 1


def test_every_declared_metric_has_a_prediction():
    declared = declared_per_layer()
    with open(os.path.join(os.path.dirname(HERE), "predictions.json")) as f:
        predicted = json.load(f)["metrics"]
    layers = module_layers(declared)
    assert layers and all(f"{m}.{k}" in declared for m in layers for k in ("self_s", "calls", "jobs"))
    covered = set(predicted)
    for name in declared:
        module = name.rsplit(".", 1)[0]
        assert name in covered or module in covered, name
