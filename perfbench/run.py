"""Benchmark entry point.

One workload, one run (the last stdout line is the JSON result):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the traced
run and reports the per-layer metrics instead. Every workload, untraced
and traced, with each metric printed by name and unit and the tracing
overhead (exits non-zero if any output check failed):

    python3 perfbench/run.py --all --seed 1

The workloads, the run length and the per-layer metric names and units
come from ``BENCHMARK.json`` at the repository root; ``pin.py``
recomputes the expected outputs ``query_mix`` checks.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


class Context:
    def __init__(self, spark, seed, seconds, trace, work_dir, session_s):
        from perfbench.common import Clock, CpuMeter, RunRecord
        from perfbench.trace import NullTracer, Tracer

        self.spark = spark
        self.seed = seed
        self.trace = trace
        self.work_dir = work_dir
        self.session_s = session_s
        self.clock = Clock(seconds)
        self.cpu = CpuMeter()
        self.record = RunRecord()
        self.tracer = Tracer(spark) if trace else NullTracer()
        self.layer_samples: list[dict] = []
        #: traced runs: most executor memory cached partitions held
        self.cached_mb = 0.0


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    try:
        import creatorops_lakehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"the program under test is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import pipeline_batch, query_mix, snapshot_dml
    from perfbench.common import (
        environment_record, pin_environment, start_spark, stop_spark,
    )

    modules = {"pipeline_batch": pipeline_batch, "query_mix": query_mix,
               "snapshot_dml": snapshot_dml}
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    spark = None
    try:
        pins = pin_environment(work_dir)
        t0 = time.perf_counter()
        spark = start_spark()
        session_s = time.perf_counter() - t0
        ctx = Context(spark, seed, seconds, trace, work_dir, session_s)
        try:
            modules[workload].run(ctx)
        finally:
            ctx.tracer.unwrap_all()
        rec = ctx.record
        env = environment_record(spark, seed, pins)
        if trace:
            ctx.layer_samples.append({
                "trace.pass_s": statistics.median(rec.passes) if rec.passes else 0.0,
                "trace.pass_cpu_s": statistics.median(rec.cpu_passes) if rec.cpu_passes else 0.0,
                "trace.collect_s": ctx.tracer.collect_s,
            })
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            os.rmdir(os.path.dirname(work_dir))

    print("environment: " + json.dumps(env, sort_keys=True))
    print("inputs: " + json.dumps(rec.inputs, sort_keys=True))
    print("detail: " + json.dumps(_summarize(rec.detail), sort_keys=True))
    kinds = sorted({k for k, _ in rec.calls})
    print("call medians (s): " + json.dumps(
        {k: round(statistics.median(rec.kind_times(k)), 4) for k in kinds}, sort_keys=True))
    for e in rec.errors:
        print(f"failed op: {e}")
    if not rec.passes or not rec.calls:
        print("no op completed and passed its checks", file=sys.stderr)
        return 1
    if trace:
        metrics = _layer_metrics(ctx.layer_samples)
    else:
        metrics = rec.end_to_end()
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    print(json.dumps(result, separators=(",", ":")))
    return 0


def _summarize(detail: dict) -> dict:
    out = {}
    for k, v in detail.items():
        if isinstance(v, list) and v and all(isinstance(x, (int, float)) for x in v):
            out[k] = statistics.median(v)
        elif isinstance(v, list) and v and all(isinstance(x, str) for x in v):
            out[k] = {s: v.count(s) for s in sorted(set(v))}
        else:
            out[k] = v
    return out


def _layer_metrics(samples: list[dict]) -> dict:
    """Median of each per-layer metric over the run's passes; 0 for a
    layer the workload does not exercise."""
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    out = {}
    for name in units:
        vals = [s[name] for s in samples if name in s]
        out[name] = {"value": round(statistics.median(vals), 6) if vals else 0, "unit": units[name]}
    return out


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, in child processes."""
    ok = True
    for w in (x["name"] for x in SPEC["workloads"]):
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = out.stdout.strip().splitlines()
            for ln in lines[:-1]:
                if ln.startswith(("detail:", "inputs:", "call medians", "failed op:")):
                    print(f"{w} trace={trace}: {ln}")
            try:
                res[trace] = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{w} trace={trace}: no result (exit {out.returncode})\n{out.stderr[-2000:]}")
                ok = False
                continue
            r = res[trace]
            ok &= bool(r["correct"])
            print(f"{w} trace={trace}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
            if trace == 0:
                for name, m in r["metrics"].items():
                    print(f"  {w} {name} = {m['value']} {m['unit']}")
        if 0 in res and 1 in res:
            for name in ("pass_s", "pass_cpu_s"):
                untraced = res[0]["metrics"][name]["value"]
                traced = res[1]["metrics"][f"trace.{name}"]["value"]
                print(f"  {w} tracing overhead on {name}: traced {traced} s - untraced "
                      f"{untraced} s = {traced - untraced:+.3f} s")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    if a.all:
        return run_all(a.seed, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
