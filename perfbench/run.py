"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipelines,registry}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one SparkSession on
local[<cores>], one client in a closed loop: the next operation starts when
the previous one returns. After setup, whole passes of the workload's
operations run until ``--seconds`` have elapsed (at least one pass). Every
operation's output is checked outside its timed region; a failed check or an
exception counts as a failed operation and makes the exit code 1.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the passes run traced
and the metrics are the per-layer ones; the spans are written as JSONL under
``.perfbench/traces/`` with a module-level breakdown beside them. A line of
detail (posture, sample counts, per-op walls) goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import resource
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
DATA = Path(__file__).resolve().parent / "data"
WORKLOADS = ("pipelines", "registry")
DATA_SET = "sf0.01"  # vendored copy of the sf0.01 fixtures

SPAN_TOTALS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "bytes_written",
    "job_s", "driver_s",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def require_checkout() -> None:
    """Refuse to run without the program and its oracle helpers."""
    needed = ("wnba_data_pipeline_spark/__init__.py", "__spark_entry__.py", "tests/oracle_compare.py")
    missing = [p for p in needed if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program (missing {', '.join(missing)})")


def make_workload(name: str, spark, seed: int, *, traced: bool):
    from perfbench import workloads

    data_dir = DATA / DATA_SET
    if name == "registry":
        return workloads.Registry(spark, data_dir, seed, WORK, build_fitted=traced)
    return workloads.Pipelines(spark, data_dir, seed, WORK)


class Sample(NamedTuple):
    pass_no: int
    op: str
    wall_s: float
    error: str | None


def run_op(wl, op, span=nullcontext):
    """Time one operation, then check its output outside the timed region."""
    t0 = time.perf_counter()
    try:
        with span():
            result = wl.run(op)
        wall = time.perf_counter() - t0
        return wall, wl.check(op, result)
    except Exception as exc:  # an op that raises is a failed op; keep measuring
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"


def timed_passes(wl, seconds: float, *, tracer=None) -> list[Sample]:
    samples: list[Sample] = []
    end = time.perf_counter() + seconds
    pass_no = 0
    while pass_no == 0 or time.perf_counter() < end:
        for op in wl.pass_ops():
            span = nullcontext
            if tracer is not None:
                tracer.begin_trace(f"pass-{pass_no}-{op}")
                span = lambda: tracer.span(wl.span_name(op), op=op, pass_no=pass_no)  # noqa: E731
            wall, err = run_op(wl, op, span)
            if err:
                print(f"perfbench: {op} failed: {err}", file=sys.stderr)
            samples.append(Sample(pass_no, op, wall, err))
        pass_no += 1
    return samples


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's own peak."""
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def pass_walls(samples) -> list[float]:
    walls: dict[int, float] = {}
    for s in samples:
        walls[s.pass_no] = walls.get(s.pass_no, 0.0) + s.wall_s
    return [walls[k] for k in sorted(walls)]


def end_to_end(samples, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": metric(setup_s, "s"),
        "pass_s": metric(statistics.median(pass_walls(samples)), "s"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }


def pass_totals(spans: list[dict], root_names: set[str]) -> list[dict]:
    """Per traced pass, the sums of the root (per-op) spans' statistics."""
    by_pass: dict[int, dict] = {}
    for s in spans:
        if s["name"] in root_names and s["parent"] is None:
            acc = by_pass.setdefault(s["pass_no"], dict.fromkeys(SPAN_TOTALS, 0))
            for k in SPAN_TOTALS:
                acc[k] += s[k]
    return [by_pass[k] for k in sorted(by_pass)]


def per_layer(totals: list[dict], session_s: float, overhead_s: float) -> dict:
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    out = {
        "session.start_s": metric(session_s, "s"),
        "trace.overhead_s": metric(overhead_s, "s"),
    }
    for k in SPAN_TOTALS:
        unit = units.get(k) or ("bytes" if k.endswith("_bytes") or k == "bytes_written" else "s")
        out[f"pass.{k}"] = metric(statistics.median(t[k] for t in totals), unit)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    require_checkout()
    sys.path.insert(0, str(ROOT))
    from perfbench import layers_report, posture, trace

    posture.prepare_env(ROOT, WORK)
    try:
        t0 = time.perf_counter()
        spark = posture.start_session(WORK)
        session_s = time.perf_counter() - t0
        wl = make_workload(args.workload, spark, args.seed, traced=bool(args.trace))
        tracer = trace.Tracer(spark) if args.trace else None
        # a traced run wraps the workload's calls for the whole run, so
        # spans cover setup (where the registry's model fits run) too
        with trace.patched(tracer, wl.trace_targets()) if tracer else nullcontext():
            t1 = time.perf_counter()
            if tracer:
                tracer.begin_trace("setup")
            warm = wl.setup()
            setup_s = session_s + time.perf_counter() - t1
            setup_errors = [(op, err) for op, res in warm if (err := wl.check(op, res))]
            for op, err in setup_errors:
                print(f"perfbench: setup {op} failed: {err}", file=sys.stderr)
            if tracer and hasattr(wl, "hooks"):
                wl.hooks = []
            samples = timed_passes(wl, args.seconds, tracer=tracer)
        rss = peak_rss_mb(spark)

        attempted = len(warm) + len(samples)
        failed = len(setup_errors) + sum(1 for s in samples if s.error)
        if tracer:
            n_passes = 1 + max(s.pass_no for s in samples)
            overhead = tracer.overhead_s / n_passes
            roots = {wl.span_name(op) for op in wl.pass_ops()}
            metrics = per_layer(pass_totals(tracer.spans, roots), session_s, overhead)
            stem = WORK / "traces" / f"{args.workload}-seed{args.seed}"
            tracer.write_jsonl(stem.with_suffix(".jsonl"))
            layers_report.write(
                stem.with_name(stem.name + "-layers.json"), args.workload, wl, tracer.spans,
                session_s=session_s, overhead_s=overhead,
            )
        else:
            metrics = end_to_end(samples, setup_s, rss)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "data": DATA_SET,
            "posture": posture.posture(spark),
            "samples": len(samples),
            "pass_walls_s": [round(w, 4) for w in pass_walls(samples)],
            "build_s": {k: round(v, 3) for k, v in getattr(wl, "build_s", {}).items()},
            "warm_s": {k: round(v, 3) for k, v in getattr(wl, "warm_s", {}).items()},
            "op_walls_s": {op: [round(s.wall_s, 4) for s in samples if s.op == op] for op in wl.pass_ops()},
        }
        print(json.dumps(detail), file=sys.stderr)
    finally:
        posture.stop_session()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
