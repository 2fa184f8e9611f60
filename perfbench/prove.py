"""Steadiness proof and baseline for the benchmark: run each workload
once per seed, sequentially (never two Spark jobs at once), and report
per metric the median and the spread — the distance between the first
and third quartiles of the runs' values (statistics.quantiles(values,
n=4)) as a share of their median — against the bound BENCHMARK.json
fixes for it.

    python3 perfbench/prove.py [--seeds 1-10] [--workloads a,b]
        [--seconds S] [--trace 0|1] [--out FILE]

With --trace 1 the runs are traced ones and the report adds, per
workload, the tracing overhead: the median traced pass wall
(`pass.wall_s`) minus the median untraced `pass_wall_s` of earlier
untraced runs of the same seeds given with --untraced FILE (a report
this script wrote). Pooled over the runs it also reports each
workload's step-wall tail: the highest of p50/p90/p99 with at least ten
samples beyond it, with the sample count."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import percentile_with_tail  # noqa: E402


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def named_lines(stdout: str) -> dict:
    """The `name = value unit` lines run.py prints before its JSON."""
    out = {}
    for line in stdout.splitlines():
        name, sep, rest = line.partition(" = ")
        if sep and " " not in name:
            value = rest.rsplit(" ", 1)[0] if rest.endswith(" s") else \
                rest.split(" ", 1)[0]
            try:
                out[name] = json.loads(value)
            except ValueError:
                out[name] = value
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--untraced")
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    untraced = {}
    if args.untraced:
        with open(args.untraced) as f:
            untraced = json.load(f)["workloads"]

    report: dict = {"seconds": args.seconds, "trace": args.trace,
                    "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and p.returncode == 0 \
                else None
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall,
                         "named": named_lines(p.stdout), "result": result})
            print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                  + (json.dumps({k: round(v["value"], 4) for k, v in
                                 result["metrics"].items()
                                 if k in bounds or k == "pass.wall_s"})
                     if result else p.stderr[-600:]), flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        summary = {}
        for name in (ok[0]["metrics"] if ok else {}):
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            s = spread(vals) if len(vals) > 1 and med else None
            summary[name] = {"median": med, "spread": s, "n": len(vals),
                             "unit": ok[0]["metrics"][name]["unit"]}
            if name in bounds:
                summary[name].update(bound=bounds[name],
                                     under_third_of_bound=(
                                         s is not None
                                         and s < bounds[name] / 3))
        steps = [x for r in runs for x in r["named"].get("step_walls_s", [])]
        tail = percentile_with_tail(steps)
        entry = {"summary": summary, "runs": runs,
                 "max_run_wall_s": max(r["wall_s"] for r in runs),
                 "step_wall_tail": {"label": tail[0] if tail else None,
                                    "value_s": tail[1] if tail else None,
                                    "samples": len(steps)}}
        if args.trace and w in untraced:
            base = [r["named"]["pass_wall_s"] for r in untraced[w]["runs"]
                    if "pass_wall_s" in r["named"]]
            traced = [r["metrics"]["pass.wall_s"]["value"] for r in ok]
            if base and traced:
                entry["trace_overhead_s"] = (statistics.median(traced)
                                             - statistics.median(base))
        report["workloads"][w] = entry
        print(w, json.dumps({k: v for k, v in entry.items() if k != "runs"},
                            indent=1), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if all(r["exit"] == 0 for v in report["workloads"].values()
                    for r in v["runs"]) else 1


if __name__ == "__main__":
    sys.exit(main())
