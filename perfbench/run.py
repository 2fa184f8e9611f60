"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl_churn,journey}
        --seed N --seconds S --trace {0,1}

Runs one seeded workload on Spark local[4] from the root of a source
checkout, checks its outputs, and prints as the LAST stdout line one
JSON object {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics, measured with tracing off.
--trace 1 runs the same workload once with tracing on — a Spark job
group per span and Spark's event log on the run's own session — then
replays each layer the workload exercises alone on the run's own inputs
(perfbench/layers.py) and reports the per-layer metrics. The tracing
overhead is the traced pass wall (`pass.wall_s`) minus the untraced
`pass_wall_s` of the same seeds; `prove.py --trace 1 --untraced REPORT`
computes it.

Lines before the JSON name the workload's own metrics with their units,
each output check, and the host context (nproc, 1-minute load average
before and after, shuffle partitions). Everything the run writes stays
under <checkout>/.perfbench/. The exit status is 0 only when every step
ran and every output check passed."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(ROOT, ".perfbench")
CORES = 4
SHUFFLE_PARTITIONS = 4


class Session:
    """Spark session factory. Restarts reuse the running JVM; shutdown()
    stops the context, closes the gateway and waits for the JVM (and
    with it the Python workers) to exit."""

    def __init__(self, event_dir: str | None):
        self.event_dir = event_dir
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(BASE, "tmp")
        b = (SparkSession.builder.master(f"local[{CORES}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .config("spark.local.dir", os.path.join(BASE, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(BASE, "spark-warehouse")))
        if self.event_dir:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.event_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        else:
            b = b.config("spark.eventLog.enabled", "false")
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def _jvm(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def jvm_peak_rss_mb(self) -> float:
        proc = self._jvm()
        if proc is None:
            return 0.0
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw, proc = SparkContext._gateway, self._jvm()
        if gw is None:
            return
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; wait below
            traceback.print_exc()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def host_context() -> dict:
    """nproc, the 1-minute load average and the host's CPU time counters
    (/proc/stat jiffies: all, and stolen by the hypervisor)."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_1m": os.getloadavg()[0],
            "cpu_jiffies": sum(cpu), "steal_jiffies": cpu[7]}


def report_lines(res, host) -> list[str]:
    """Human-readable lines: the workload's own metrics, the failure
    ratio, each output check, the host context."""
    lines = [f"{name} = {value} {unit}" for name, value, unit in res.named]
    lines.append(f"ops_failed_ratio = {res.failed / max(res.attempted, 1)} "
                 f"ratio ({res.failed} of {res.attempted} rounds, actions "
                 f"and output checks)")
    lines += [f"check {name}: {'ok' if ok else 'FAILED'} "
              f"{json.dumps(detail, default=str)}"
              for name, (ok, detail) in res.checks.items()]
    lines.append("host " + json.dumps(host, sort_keys=True))
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # build the workload's inputs into the cache and exit (used by the
    # run itself, in a child process)
    ap.add_argument("--inputs-only", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "risjbot_spark")):
        print(f"perfbench: no risjbot_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, layers
    from perfbench.trace import Tracer, group_metrics
    from perfbench.workloads import SETUPS, SIZES, WORKLOADS, Ctx, \
        workload_inputs

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # Python workers import the engine from this checkout; temp files
    # stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(BASE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BASE, "spark-local")
    for d in ("tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(BASE, d), exist_ok=True)

    if args.inputs_only:
        session = Session(None)
        try:
            workload_inputs(session, BASE, args.workload, args.seed)
        finally:
            session.shutdown()
        return 0
    # inputs are built in a child process, so that this process and its
    # JVM start with the same history whether or not the input cache was
    # warm (a JVM that has just written the journey's segment sets up
    # faster and spends less CPU in its pass)
    if not inputs.cached(BASE, args.workload, args.seed,
                         SIZES[args.workload]):
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds", "0",
             "--inputs-only"], stdout=sys.stderr)
        if child.returncode:
            print("perfbench: building the inputs failed", file=sys.stderr)
            return 1

    host = {"before": host_context(),
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "master": f"local[{CORES}]"}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    event_dir = None
    if args.trace:
        event_dir = os.path.join(BASE, "events", tag)
        os.makedirs(event_dir)
    session = Session(event_dir)
    tracer = Tracer(enabled=bool(args.trace))
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "host": host}
    res = result = ctx = None
    t0 = time.monotonic()
    try:
        session.start()
        record["session_start_s"] = time.monotonic() - t0
        # the traced run reports no setup_s: one set-up is enough
        ctx = Ctx(BASE, args.workload, args.seed, args.seconds, tracer,
                  session,
                  setups=1 if args.trace else SETUPS[args.workload])
        res = WORKLOADS[args.workload](ctx)
        wall, blocking = layers.split(res)
        metrics = res.metrics
        if args.trace:
            lay = layers.replay(session.spark, ctx, res, tracer)
            session.stop()
            groups = group_metrics(event_dir)
            metrics = layers.per_layer(res, lay, groups)
            res.check("split_sums_to_wall", abs(blocking - wall) <= 0.05 * wall,
                      {"wall_s": wall, "split_sum_s": blocking})
            tracer.write(os.path.join(BASE, "runs", tag + ".spans.json"))
            record.update(spark_groups=groups, layers=lay)
        result = {"correct": res.failed == 0, "attempted": res.attempted,
                  "failed": res.failed,
                  "metrics": {k: {"value": v, "unit": u}
                              for k, (v, u) in metrics.items()}}
    except Exception as e:  # a step that raises is a failed run
        traceback.print_exc()
        record["error"] = repr(e)
    finally:
        session.shutdown()
        if ctx is not None:
            shutil.rmtree(ctx.work, ignore_errors=True)
        if event_dir:
            shutil.rmtree(event_dir, ignore_errors=True)
        host["after"] = after = host_context()
        # share of the host's CPU time the hypervisor gave to other
        # guests during the run, the usual cause of a slow run on a VM
        host["cpu_steal_share"] = (
            (after["steal_jiffies"] - host["before"]["steal_jiffies"])
            / max(after["cpu_jiffies"] - host["before"]["cpu_jiffies"], 1))
        record["run_wall_s"] = time.monotonic() - t0
        if res is not None:
            record.update(timeline=ctx.timeline, steps=res.steps,
                          checks=res.checks,
                          named=res.named,
                          setup_walls=ctx.setup_walls,
                          setup_cpus=ctx.setup_cpus)
        record["result"] = result
        with open(os.path.join(BASE, "runs", tag + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    if result is None:
        return 1
    for line in report_lines(res, host):
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
