"""The lakehouse benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):

- ``serving``: a server process over a preloaded, compacted store; a
  closed-loop bulk phase of line-protocol bodies into ``POST /write``,
  then a seeded dashboard panel mix on ``POST /query`` beside an
  open-loop write stream (serving.py);
- ``gate_suite``: the 50 registry gates, in process, on seeded tables,
  each timed with a full materialization and checked against DuckDB
  (suite.py).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run. The
line before it is a full report: run context (parallelism, versions,
seed, source digest, floor and host-kernel probes at start and end),
the named workload metrics with units, and the correctness checks.
Everything a run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # the checkout root replaces the script's own directory, whose module
    # names (trace, ...) would shadow the standard library's
    sys.path[0] = ROOT

from perfbench.serving import MERGE_PERIOD_S  # noqa: E402
from perfbench.stats import median  # noqa: E402

# the same four metrics on every workload. latency_ms is a geometric mean:
# of the panel classes' median latencies (serving), of the gate times
# (gate_suite); throughput is panels/s in the dashboard phase (serving) or
# gates/s (gate_suite). Tail latencies are in the report line only: the
# p75 of one sweep's 50 gates spread 0.24 of its median over ten seeds on
# a 4-core VM
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
}
# the engine's driver heap, capped and committed from the start: peak RSS
# then follows the engine, not how long the collector let garbage pile up
# in a large heap or when it chose to grow it
DRIVER_MEM = "1g"
NPROC = len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    root: str
    work: str
    env: dict
    seed: int
    seconds: float
    trace: bool


def host_kernel_ms() -> float:
    """A fixed pure-Python kernel, median of 5: shows machine drift."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the machine so far; zeros where
    /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def source_digest() -> str:
    """The commit when the checkout is a git repository, else a digest of
    the engine's source files."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "quackpipe_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-" + h.hexdigest()[:16]


def make_env(work: str) -> dict:
    """Environment for every engine process: parallelism pinned to the
    machine's cores, and every temporary file inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # local[nproc]: the session's own default is 32
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CONF": ";".join([
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}",
        ]),
        # every JVM, the launcher's too: no perf-data file, temp files here
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "MERGE_TIMEOUT_S": str(MERGE_PERIOD_S),
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def versions() -> dict:
    out = {"python": sys.version.split()[0]}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except Exception:
            out[mod] = "missing"
    return out


def _num(x) -> float:
    x = float(x)
    return x if math.isfinite(x) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("quackpipe_spark") is None or not os.path.isdir(
        os.path.join(ROOT, "quackpipe_spark")
    ):
        print(f"perfbench: no quackpipe_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import layers, serving, suite

    workloads = {"serving": serving.serving, "gate_suite": suite.gate_suite}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = make_env(work)
    os.environ.update(env)  # the in-process workload's engine too
    ctx = Ctx(ROOT, work, env, args.seed, args.seconds, bool(args.trace))
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": NPROC,
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "driver_memory_setting": DRIVER_MEM,
        "versions": versions(), "source": source_digest(),
        "host.kernel_ms_start": host_kernel_ms(),
    }
    ticks0 = cpu_ticks()
    try:
        res = workloads[args.workload](ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    context["host.kernel_ms_end"] = host_kernel_ms()
    # CPU time the hypervisor gave to other machines during the run: a
    # drift in the end-to-end figures that this share tracks is the host's
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    context["host.steal_pct"] = 100.0 * steal / total if total else 0.0
    context.update(res["engine"].get("context", {}))
    context["spark.floor_ms_start"] = res["engine"].get("floor_ms_start")
    context["spark.floor_ms_end"] = res["engine"].get("floor_ms_end")
    for key in ("preload", "rss_peaks_mb"):
        if key in res["engine"]:
            context[key] = res["engine"][key]

    if ctx.trace:
        values = layers.derive(args.workload, res, context)
        units = layers.UNITS
        report_extra = {"layer_self_s": layers.self_seconds(res)}
    else:
        values = {k: res[k] for k in END_TO_END}
        units = END_TO_END
        report_extra = {}
    metrics = {k: {"value": _num(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    checks = res["checks"]
    correct = all(checks.values()) and (ctx.trace or all(m["value"] > 0 for m in metrics.values()))
    report = {
        "context": context,
        "report": {k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()},
        "input": res.get("input", {}),
        "checks": checks,
        **report_extra,
    }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(res["attempted"]) + len(checks),
        "failed": int(res["failed"]) + sum(not ok for ok in checks.values()),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
