"""Benchmark worker: one fresh process, one Spark session, one workload.

Started by ``run.py`` with a config file path. Prints ``READY`` on
stdout once the session is up and warm-up has run (the parent times
set-up from spawn to that line); everything else goes to stderr. Writes
``result.json`` next to the config and exits after the JVM has ended.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

from workloads import WORKLOADS, make_checker, make_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SINKS = ("io.write_json_bundle", "io.write_excel_bundle", "io.write_parquet_bundle")


def declared_per_layer() -> dict[str, str]:
    """Per-layer metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def module_layers(names) -> list[str]:
    """The operators.* and plans.* modules named by ``<layer>.self_s``."""
    return sorted(n[: -len(".self_s")] for n in names
                  if n.startswith(("operators.", "plans.")) and n.endswith(".self_s"))


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Runner:
    def __init__(self, cfg, spark, tracer=None):
        from bht_etl_app_spark.functions import lifecycle

        self.cfg, self.spark, self.sc = cfg, spark, spark.sparkContext
        self.lifecycle = lifecycle
        self.tracer = tracer
        self.queries = make_queries(cfg["workload"], cfg["manifest"], cfg["work"])
        self.outputs: list[dict] = []        # per pass: query -> output or error
        self.passes: list[dict] = []         # per pass record

    def group(self, p, q, phase):
        return f"pb|{self.cfg['workload']}|p{p}|{q}|{phase}"

    def run_pass(self, p: int, traced: bool) -> float:
        tr = self.tracer if traced else None
        if tr is not None:
            tr.tag = p
        rec = {"pass": p, "traced": traced, "queries": {}, "t0_epoch": time.time()}
        outs = {}
        t0 = time.perf_counter()
        for q in self.queries:
            tq = time.perf_counter()
            qrec = {}
            try:
                if tr is None:
                    outs[q.name] = q.execute(q.build(self.spark))
                else:
                    outs[q.name] = self._traced_query(tr, p, q, qrec)
            except Exception:  # a failed query is counted, the pass goes on
                outs[q.name] = {"error": traceback.format_exc(limit=3)}
                if tr is not None:
                    tr.set_group(None)
            qrec["wall_s"] = time.perf_counter() - tq
            self.spark.catalog.clearCache()
            qrec["swept"] = self.lifecycle.sweep_checkpoints(self.sc)
            qrec["persisted_after"] = len(self.lifecycle.persistent_rdd_ids(self.sc))
            rec["queries"][q.name] = qrec
        rec["wall_s"] = time.perf_counter() - t0
        rec["t1_epoch"] = time.time()
        if tr is not None:
            tr.tag = None
        self.outputs.append(outs)
        self.passes.append(rec)
        return rec["wall_s"]

    def _traced_query(self, tr, p, q, qrec):
        with tr.span(f"query.{q.name}", "query"):
            tr.set_group(self.group(p, q.name, "build"))
            with tr.span("build", "phase") as s:
                handle = q.build(self.spark)
            qrec["build_s"] = s.end - s.start
            tr.set_group(self.group(p, q.name, "plan"))
            frames = q.frames(handle)
            with tr.span("plan", "phase") as s:
                for f in frames:
                    f._jdf.queryExecution().executedPlan()
            qrec["plan_s"] = s.end - s.start
            tr.set_group(self.group(p, q.name, "execute"))
            with tr.span("execute", "phase") as s:
                out = q.execute(handle)
            qrec["execute_s"] = s.end - s.start
            tr.set_group(None)
        return out


def install_tracer(tracer):
    """Wrap the measured layers; ``session.ensure_min_parallelism`` also
    counts calls whose output is a new (repartitioned) frame."""
    import __spark_entry__
    import bht_etl_app_spark.session as session
    from bht_etl_app_spark.pipeline import BhtPipeline

    mods = [m for n, m in sorted(sys.modules.items())
            if m is not None and (n == "__spark_entry__" or n.startswith("bht_etl_app_spark"))]
    tracer.install(mods, extra=[
        (session, "load_table", "session.load_table", "session"),
        (BhtPipeline, "transform", "pipeline.transform", "pipeline"),
        (BhtPipeline, "crosstab", "pipeline.crosstab", "pipeline"),
        (BhtPipeline, "multi_tabulation", "pipeline.multi_tabulation", "pipeline"),
    ])
    emp = session.ensure_min_parallelism
    counter = {"repartitions": 0}

    def counted(df, *args, **kwargs):
        out = emp(df, *args, **kwargs)
        if out is not df:
            counter["repartitions"] += 1
        return out

    tracer.rebind(mods, emp, tracer.wrap(counted, "session.ensure_min_parallelism", "session"))
    return counter


def per_layer_metrics(runner, tracer, log, source_bytes, cores, untraced_walls,
                      counter_by_pass, layers):
    """Per traced pass, then the median over traced passes."""
    from eventlog import plan_counts
    from spans import self_times

    spans_by_tag: dict = {}
    for s in tracer.spans:
        spans_by_tag.setdefault(s.tag, []).append(s)
    jobs_by_span: dict = {}
    for j in log.jobs.values():
        jobs_by_span.setdefault(j["span"], []).append(j)
    rows = []
    for rec in runner.passes:
        if not rec["traced"]:
            continue
        p = rec["pass"]
        spans = spans_by_tag.get(p, [])
        by_id = {s.sid: s for s in spans}
        selfs = self_times(spans)
        qs = rec["queries"].values()
        m = {
            "build_s": sum(q.get("build_s", 0.0) for q in qs),
            "plan_s": sum(q.get("plan_s", 0.0) for q in qs),
            "execute_s": sum(q.get("execute_s", 0.0) for q in qs),
            "lifecycle.checkpoints_swept": sum(q["swept"] for q in qs),
            "lifecycle.persisted_after_query": sum(q["persisted_after"] for q in qs),
            "trace.spans": len(spans),
        }
        m["query.residual_s"] = sum(q["wall_s"] for q in qs) - m["build_s"] - m["plan_s"] - m["execute_s"]
        prefix = f"pb|{runner.cfg['workload']}|p{p}|"
        phase_jobs = {"build": 0, "plan": 0, "execute": 0}
        for j in log.jobs.values():
            g = j["group"] or ""
            if g.startswith(prefix):
                phase_jobs[g.rsplit("|", 1)[1]] += 1
        m["build.jobs"], m["execute.jobs"] = phase_jobs["build"], phase_jobs["execute"]
        ex = [st for st in log.stages.values()
              if st.completed and (st.group or "").startswith(prefix) and st.group.endswith("|execute")]
        # the final adaptive plan of every SQL execution the execute
        # phase ran: the collect, or each query the sinks run
        plans = [plan_counts(e.plan) for e in log.executions.values()
                 if e.plan and (e.group or "").startswith(prefix) and e.group.endswith("|execute")]
        m["plan.nodes"] = sum(n for n, _ in plans)
        m["plan.exchanges"] = sum(x for _, x in plans)
        task_s = sum(st.task_ms for st in ex) / 1000.0
        m.update({
            "execute.stages": len(ex),
            "execute.tasks": sum(st.tasks for st in ex),
            "execute.task_s": task_s,
            "execute.core_util": task_s / (m["execute_s"] * cores) if m["execute_s"] > 0 else 0.0,
            "execute.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in ex),
            "execute.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in ex),
            "execute.spill_bytes": sum(st.spill_bytes for st in ex),
            "execute.gc_s": sum(st.gc_ms for st in ex) / 1000.0,
        })
        pass_stages = [st for st in log.stages.values() if (st.group or "").startswith(prefix)]
        m["io.scan_amplification"] = sum(st.input_bytes for st in pass_stages) / source_bytes
        m["jvm.peak_heap_mb"] = max((st.peak_heap_bytes for st in pass_stages), default=0) / 2**20

        def inclusive(name):
            return sum(s.end - s.start for s in spans if s.name == name)

        def calls(name):
            return sum(1 for s in spans if s.name == name)

        def jobs_under(names):
            n = 0
            for sid, js in jobs_by_span.items():
                s = by_id.get(sid)
                while s is not None and s.name not in names:
                    s = by_id.get(s.parent)
                n += len(js) if s is not None else 0
            return n

        m["session.load_table.calls"] = calls("session.load_table")
        m["session.load_table.s"] = inclusive("session.load_table")
        m["session.ensure_min_parallelism.calls"] = calls("session.ensure_min_parallelism")
        m["session.ensure_min_parallelism.s"] = inclusive("session.ensure_min_parallelism")
        m["session.ensure_min_parallelism.repartitions"] = counter_by_pass.get(p, 0)
        for name in ("read_table", "apply_codebook", "write_json_bundle",
                     "write_excel_bundle", "write_parquet_bundle"):
            m[f"io.{name}.s"] = inclusive(f"io.{name}")
        m["io.sink.jobs"] = jobs_under(SINKS)
        m["pipeline.transform.s"] = inclusive("pipeline.transform")
        m["pipeline.transform.jobs"] = jobs_under(("pipeline.transform",))
        for layer in layers:
            mine = [s for s in spans if s.layer == layer]
            m[f"{layer}.self_s"] = sum(selfs[s.sid] for s in mine)
            m[f"{layer}.calls"] = len(mine)
            m[f"{layer}.jobs"] = sum(len(jobs_by_span.get(s.sid, ())) for s in mine)
        m["pass_s"] = rec["wall_s"]
        rows.append(m)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["trace.overhead_s"] = out.pop("pass_s") - statistics.median(untraced_walls)
    t0s = [r["t0_epoch"] * 1000 for r in runner.passes if r["traced"]]
    t1s = [r["t1_epoch"] * 1000 for r in runner.passes if r["traced"]]
    out["trace.unattributed_jobs"] = sum(
        1 for j in log.jobs.values()
        if j["group"] is None and any(a <= (j["submit_ms"] or 0) <= b for a, b in zip(t0s, t1s))
    )
    return out


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    work, trace = cfg["work"], cfg["trace"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # per-task peaks of the driver JVM's used heap (jvm.peak_heap_mb)
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    from pyspark import SparkContext

    import __spark_entry__  # noqa: F401  (the program's contract module)
    from bht_etl_app_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{cfg['workload']}", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    sys.stdout.write("READY\n")
    sys.stdout.flush()

    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer(sc)
    runner = Runner(cfg, spark, tracer)
    cold = runner.run_pass(0, traced=False)
    spec = WORKLOADS[cfg["workload"]]
    min_u, min_t = spec["trace_passes"] if trace else (spec["min_warm_passes"], 0)
    warm_u, warm_t, reps_by_pass = [], [], {}
    t_warm = time.perf_counter()
    p = 1
    while True:
        # untraced, traced, untraced, ...: the passes are still speeding
        # up, so each traced pass sits between two untraced ones for the
        # overhead. The wrappers are in place only during traced passes,
        # so the untraced ones run the program as a caller would.
        traced = trace and p % 2 == 0
        if traced:
            counter = install_tracer(tracer)
            try:
                wall = runner.run_pass(p, traced=True)
            finally:
                tracer.uninstall()
            reps_by_pass[p] = counter["repartitions"]
            warm_t.append(wall)
        else:
            warm_u.append(runner.run_pass(p, traced=False))
        done = time.perf_counter() - t_warm >= cfg["seconds"]
        if done and len(warm_u) >= min_u and len(warm_t) >= min_t:
            break
        p += 1
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
    cores = sc.defaultParallelism
    spark_version = spark.version

    t_stop = time.perf_counter()
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)

    t_check = time.perf_counter()
    checker = make_checker(cfg["workload"], cfg["manifest"])
    attempted, failures = 0, []
    for rec, outs in zip(runner.passes, runner.outputs):
        for name, out in outs.items():
            attempted += 1
            err = out["error"] if isinstance(out, dict) and "error" in out else checker.check(name, out)
            if err:
                failures.append(f"pass {rec['pass']} {name}: {err}")
    result = {
        "seed": cfg["seed"],
        "spark_version": spark_version,
        "cold_pass_s": cold,
        "warm_pass_walls": warm_u,
        "traced_pass_walls": warm_t,
        "peak_rss_mb": peak_rss_mb,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "passes": runner.passes,
        "stop_s": t_check - t_stop,
        "check_s": time.perf_counter() - t_check,
    }
    if trace:
        from eventlog import parse

        (log_name,) = os.listdir(os.path.join(work, "eventlog"))
        log = parse(os.path.join(work, "eventlog", log_name))
        declared = declared_per_layer()
        layers = module_layers(declared)
        pl = per_layer_metrics(runner, tracer, log, cfg["manifest"]["bytes"], cores,
                               warm_u, reps_by_pass, layers)
        pl["session.get_spark_s"] = get_spark_s
        missing = sorted(declared.keys() - pl.keys())
        if missing:
            raise RuntimeError(f"per-layer metrics not computed: {missing}")
        undeclared = sorted({s.layer for s in tracer.spans
                             if s.layer.startswith(("operators.", "plans."))} - set(layers))
        if undeclared:
            print(f"layers reached but not in BENCHMARK.json: {undeclared}", file=sys.stderr)
        result["per_layer"] = {k: (pl[k], u) for k, u in declared.items()}
        trace_dir = os.path.join(os.path.dirname(work), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{cfg['workload']}-s{cfg['seed']}.json"), "w") as f:
            json.dump({"passes": runner.passes,
                       "spans": [vars(s) for s in tracer.spans]}, f)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
