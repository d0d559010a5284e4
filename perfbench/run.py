#!/usr/bin/env python3
"""Layered benchmark for bht_etl_app_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N     # every workload

Run from the root of a checkout. One client drives one query or
pipeline step at a time (a closed loop) against a fresh local Spark
session with ``SPARK_GRAFT_CPUS`` cores (default: all). Per run:

1. generate the workload's inputs from the seed (not timed);
2. start a worker process and time it from spawn until its session is
   up and a trivial warm-up job has run (``setup_s``);
3. run one cold pass, then warm passes for ``--seconds`` and at least the
   workload's ``min_warm_passes``;
4. check every output of every pass (DuckDB oracle or pandas reference).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log and the span tracer, runs untraced and traced warm
passes in turn (U T U ...), and reports the per-layer metrics named in
BENCHMARK.json.
Human-readable lines go first; the last stdout line is one JSON object.
Everything written stays under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import select
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_FILES = (
    "bht_etl_app_spark/__init__.py",
    "__spark_entry__.py",
    "tools/check_oracle.py",
    "tests/pandas_ref.py",
)
WORKER_TIMEOUT_S = 165


def end_to_end_units() -> dict[str, str]:
    """End-to-end metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}


# --- host record ----------------------------------------------------------

def host_record() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "commit": commit,
    }


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


# --- parent ---------------------------------------------------------------

def worker_env(work: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # The program's default driver heap is 16g. The JVM grows its heap
    # adaptively, and at that cap two runs of fixture_queries peaked at
    # 2860 and 3866 MB. At 768m the heap fills on every run, so
    # the JVM's share of peak_rss_mb is bounded by this cap and mostly
    # fixed by it; the traced run's jvm.peak_heap_mb reports the used
    # heap, which the cap does not fix.
    env.setdefault("SPARK_DRIVER_MEM", "768m")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep the JVM's scratch files inside the checkout as well
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return env


def wait_ready(proc, deadline: float) -> float | None:
    """Block until the worker prints READY; the time it did, or None."""
    seen = b""
    while time.perf_counter() < deadline:
        ready, _, _ = select.select([proc.stdout], [], [], 0.5)
        if ready:
            chunk = os.read(proc.stdout.fileno(), 4096)
            if not chunk:
                return None
            seen += chunk
            if b"READY\n" in seen:
                return time.perf_counter()
        elif proc.poll() is not None:
            return None
    return None


def run_workload(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """Run one workload in a fresh worker; returns (result, host)."""
    import inputs
    from workloads import WORKLOADS

    spec = WORKLOADS[workload]
    host = host_record()
    host["load_before"] = load_avg()
    work = os.path.join(BUILD, f"run-{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.perf_counter()
        manifest = inputs.generate(spec["kind"], os.path.join(work, "data"), seed, spec["size"])
        gen_s = time.perf_counter() - t
        cfg = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "work": work, "manifest": manifest,
        }
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        env = worker_env(work)
        host["spark_graft_cpus"] = env["SPARK_GRAFT_CPUS"]
        t_spawn = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=work, env=env, stdout=subprocess.PIPE,
        )
        try:
            setup_s = wait_ready(proc, t_spawn + WORKER_TIMEOUT_S)
            if setup_s is not None:
                setup_s -= t_spawn
            proc.communicate(timeout=max(1.0, t_spawn + WORKER_TIMEOUT_S - time.perf_counter()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.communicate()
        res_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or setup_s is None or not os.path.exists(res_path):
            raise RuntimeError(f"worker failed (exit {proc.returncode})")
        with open(res_path) as f:
            result = json.load(f)
        result["setup_s"] = setup_s
        result["gen_s"] = gen_s
        result["input_sha256"] = manifest["sha256"]
        result["input_bytes"] = manifest["bytes"]
        host["spark"] = result.pop("spark_version")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["load_after"] = load_avg()
    return result, host


def end_to_end(result: dict) -> dict:
    return {
        "setup_s": result["setup_s"],
        "cold_pass_s": result["cold_pass_s"],
        "warm_pass_s": statistics.median(result["warm_pass_walls"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def report(workload: str, result: dict, host: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the metrics dict."""
    walls = sorted(result["warm_pass_walls"])
    n = len(walls)
    attempted, failed = result["attempted"], result["failed"]
    print(f"[{workload}] seed={result['seed']} inputs sha256={result['input_sha256'][:16]} "
          f"bytes={result['input_bytes']} gen_s={result['gen_s']:.2f} "
          f"stop_s={result['stop_s']:.2f} check_s={result['check_s']:.2f}")
    print(f"[{workload}] host {json.dumps(host, sort_keys=True)}")
    for line in result.get("failures", [])[:5]:
        print(f"[{workload}] FAIL {line}")
    print(f"[{workload}] error_rate = {failed / attempted if attempted else 1.0:.4f} "
          f"({failed} of {attempted} outputs)")
    if trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["per_layer"].items()}
        for k in sorted(metrics):
            print(f"[{workload}] {k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}")
        return metrics
    e2e, units = end_to_end(result), end_to_end_units()
    for k, unit in units.items():
        print(f"[{workload}] {k} = {e2e[k]:.4f} {unit}")
    # no tail percentile has ten samples beyond it at a few passes per
    # run, so the spread is given as the sample count and the maximum
    print(f"[{workload}] warm_pass_s samples={n} median={statistics.median(walls):.4f} s "
          f"max={walls[-1]:.4f} s")
    return {k: {"value": e2e[k], "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}; choose from {list(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    metrics, attempted, failed = {}, 0, 0
    for name in names:
        try:
            result, host = run_workload(name, args.seed, args.seconds, bool(args.trace))
        except RuntimeError as e:
            print(f"[{name}] {e}", file=sys.stderr)
            return 1
        m = report(name, result, host, bool(args.trace))
        prefix = "" if len(names) == 1 else f"{name}."
        metrics.update({prefix + k: v for k, v in m.items()})
        attempted += result["attempted"]
        failed += result["failed"]
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
