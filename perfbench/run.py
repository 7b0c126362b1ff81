"""ecc_spark benchmark: one workload per invocation, on one local Spark JVM.

    python3 perfbench/run.py --workload contexts_e2e --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run

1. pins the environment (``local[nproc]``, JVM heap size, Spark's local,
   temp and warehouse directories under ``.perfbench_work/``), starts the
   session and writes the workload's inputs from ``--seed``;
2. runs one untimed warm-up pass;
3. runs timed passes until they add up to ``--seconds`` seconds (at least
   one), digesting each pass's outputs outside the timing, then checks
   the last pass's outputs against the reference models in ``tests/``
   (the checked run) and compares every digest with its digest;
4. prints one human-readable line, then as its last line the result
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics folded from Spark's
   event log with ``--trace 1``.

Metric names and units are in measure.py and BENCHMARK.json; the
workloads and the reasoning behind them are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

from measure import (  # noqa: E402
    END_TO_END, PER_LAYER, WORKLOADS, PeakRss, cpu_steal_s, median, tally,
)

HEAP = "4g"


def _pin_environment(trace: bool) -> dict[str, str]:
    """Environment and session config for a single pinned JVM whose every
    file lives under WORK.  Returns the extra session config."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        # spark-submit's launcher JVM, which builds the Spark JVM's command
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    os.environ.pop("SPARK_GRAFT_CLUSTER", None)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no perf-data file: the JVM would write it to /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _source_commit() -> str | None:
    """``git rev-parse HEAD``, or None outside a git clone."""
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def _other_spark_jvms() -> int:
    """Spark JVMs on the host other than this run's own."""
    mine = _descendants() | {os.getpid()}
    n = 0
    for entry in os.listdir("/proc"):
        if entry.isdigit() and int(entry) not in mine:
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                        n += 1
            except OSError:
                continue
    return n


def _descendants() -> set[int]:
    from measure import _children

    kids, todo, out = _children(), [os.getpid()], set()
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.add(pid)
            todo.append(pid)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker it forked have exited (the event log is
    complete only after this)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = _descendants()
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if _alive(p)}
        time.sleep(0.1)
    for pid in procs:
        os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Returns (result, report): the result object printed last and the
    human-readable record of the run."""
    conf = _pin_environment(trace)
    from bench import canary
    from workloads import make

    wl = make(workload, WORK)
    t0 = time.perf_counter()
    from ecc_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        t = time.perf_counter()
        wl.make_inputs(seed)
        datagen_s = time.perf_counter() - t
        wl.prepare(spark)
        setup_group = f"{workload}.setup"
        # warm-up: one untimed pass (for contexts_e2e over a smaller dump;
        # see workloads.py)
        t = time.perf_counter()
        warm = wl.run_pass(spark, setup_group, warmup=True)
        warmup_s = time.perf_counter() - t
        spark.sparkContext.setJobGroup(setup_group, "host.canary")
        canary_pre = canary(spark)

        # timed passes until --seconds of passes have run; each pass's
        # outputs are digested outside the timing
        passes, digests, timed = [], [], 0.0
        steal0, t_timed = cpu_steal_s(), time.perf_counter()
        with PeakRss() as rss:
            while not digests or timed < seconds:
                t, p = time.perf_counter(), None
                try:
                    p = wl.run_pass(spark, workload)
                except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
                    traceback.print_exc()
                timed += time.perf_counter() - t
                if p is not None:
                    try:
                        spark.sparkContext.setJobGroup(f"{workload}.digest", "dao")
                        wl.digest(spark, p)
                        passes.append(p)
                    except Exception:  # noqa: BLE001
                        traceback.print_exc()
                digests.append(p and p.digest)
        steal_frac = (cpu_steal_s() - steal0) / (
            (time.perf_counter() - t_timed) * len(os.sched_getaffinity(0))
        )
        spark.sparkContext.setJobGroup(setup_group, "host.canary")
        canary_post = canary(spark)

        # the last pass is the checked run: its outputs are checked against
        # the reference models, and every pass must reproduce its digest
        spark.sparkContext.setJobGroup(setup_group, "check")
        t = time.perf_counter()
        problems = ["the last timed pass raised"] if digests[-1] is None else wl.check(spark)
        check_s = time.perf_counter() - t
        for msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)
        attempted, failed = tally(
            [wl.ops_per_pass] * len(digests), digests, digests[-1], not problems
        )
        if not passes:
            raise RuntimeError("every timed pass raised")
        e2e = {
            "setup_s": session_s + datagen_s + warmup_s,
            "items_per_s": median([p.items / p.seconds for p in passes]),
            "latency_s.p50": median([s for p in passes for s in p.latency_s]),
            "peak_rss_mb": rss.peak / 2**20,
        }
        report = {
            "workload": workload,
            "seed": seed,
            "passes": len(digests),
            "warmup_layer_s": {k: round(v, 3) for k, v in warm.layer_s.items()},
            "pass_s": [round(p.seconds, 3) for p in passes],
            "latency_s": [[round(s, 3) for s in p.latency_s] for p in passes],
            "error_rate": failed / attempted,
            "check": problems or "ok",
            "end_to_end": {k: [round(v, 4), END_TO_END[k][0]] for k, v in e2e.items()},
            "setup": {"session_s": session_s, "datagen_s": datagen_s, "warmup_s": warmup_s,
                      "check_s": check_s},
            "host.canary_s": [canary_pre, canary_post],
            "host.steal_frac": round(steal_frac, 4),
            "env": {
                "spark": spark.version,
                "python": platform.python_version(),
                "commit": _source_commit(),
                "master": spark.sparkContext.master,
                "heap": HEAP,
                "other_spark_jvms": _other_spark_jvms(),
            },
        }
    finally:
        _stop_spark(spark)

    if not trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    else:
        from eventlog import fold

        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(wl.layer_metrics(passes, fold(os.path.join(WORK, "eventlog"))))
        layers.update({
            "host.canary_s.pre": canary_pre,
            "host.canary_s.post": canary_post,
            "host.steal_frac": steal_frac,
            "setup.session_s": session_s,
            "setup.datagen_s": datagen_s,
            "setup.warmup_s": warmup_s,
            "setup.check_s": check_s,
            "trace.items_per_s": e2e["items_per_s"],
            "trace.latency_s.p50": e2e["latency_s.p50"],
        })
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ecc_spark", "__init__.py")):
        print(f"no ecc_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        result, report = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
