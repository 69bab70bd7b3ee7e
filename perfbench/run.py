"""Benchmark entry point: one closed-loop workload, one client, one run.

    python3 perfbench/run.py --workload datacube_artifacts --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root.  The run builds a fresh local Spark
session, stages seeded inputs, runs warm-up ops, then runs timed ops
back to back for ``--seconds`` and checks every op's outputs.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see BENCHMARK.json and README.md).  Everything the run writes
lives under ``.perfbench_work/`` in the repository and is removed when
the run ends.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: at least this many timed ops, however long they take
MIN_TIMED_OPS = 1
#: the driver JVM's heap, initial and maximum
DRIVER_HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}


# ---------------------------------------------------------------------------
# process-tree accounting (/proc)
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime seconds) for every live process."""
    clk = float(os.sysconf("SC_CLK_TCK"))
    table = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(p)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / clk)
    return table


def tree_pids(table=None) -> set[int]:
    """This process and all its live descendants (the Spark JVM and the
    Python workers it forks)."""
    table = table or _proc_table()
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, (ppid, _cpu) in table.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def tree_cpu_s() -> float:
    """utime+stime of the whole process tree."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(table) if p in table)


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (VmHWM) of the JVM and of the largest Python
    worker."""
    jvm = worker = 0.0
    for pid in tree_pids() - {os.getpid()}:
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            jvm = max(jvm, _hwm_mb(pid))
        elif "pyspark" in cmd:
            worker = max(worker, _hwm_mb(pid))
    return jvm, worker


def process_age_s() -> float:
    """Seconds since this process started (kernel clock-tick resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_spin_s() -> float:
    """A fixed pure-Python loop: the host's current speed, timed outside
    any op."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _session(work: str, trace: bool):
    from slow_tortoise_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    # A fixed 2 GB heap (initial = maximum): with the session's default
    # 8 GB maximum the JVM grows its heap adaptively, and how far it gets
    # in a short run depends on timing, which made peak RSS swing by a
    # quarter from run to run.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
    }
    if trace:
        # one traced op must never outgrow what the status stores retain
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def _plain_call(_name, fn, *args, **kwargs):
    return fn(*args, **kwargs)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import numpy as np

    from workloads import WORKLOADS

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = _session(work, trace)
    try:
        w = WORKLOADS[workload](spark, np.random.default_rng(seed), work)
        spans_path = os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.json")
        return _measure(spark, w, seconds, trace, spans_path)
    finally:
        _stop(spark)


def _stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    children = tree_pids() - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(map(_alive, children)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Is ``pid`` a running (not zombie) process?  Workers orphaned by the
    JVM's exit are no longer in this process's tree, so they are
    followed by pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _measure(spark, w, seconds: float, trace: bool, spans_path: str = "") -> dict:
    log = lambda msg: print(f"# {w.name}: {msg}", file=sys.stderr, flush=True)  # noqa: E731

    # warm-up: the first op also yields the reference outputs and runs the
    # once-per-run oracle check
    check_s = 0.0
    for i in range(w.warmup_ops):
        w.clear()
        t0 = time.perf_counter()
        result = w.first_op(_plain_call) if i == 0 else w.run_op(_plain_call)
        log(f"warm-up op {i}: {time.perf_counter() - t0:.3f} s")
        if i == 0:
            t0 = time.perf_counter()
            w.first_check(w.outputs(result))
            check_s = time.perf_counter() - t0
            log(f"oracle check: {check_s:.3f} s")
    for p in w.problems:
        log(f"CHECK FAILED: {p}")

    ops: list[dict] = []
    tracer = counters = None
    traced_from = None
    t_first = None
    while True:
        if trace and traced_from is None and t_first is not None and (
                time.perf_counter() - t_first >= seconds / 2 and len(ops) >= 1):
            # second half of a traced run: same loop, wrappers on
            from spans import SparkCounters, Tracer

            tracer, counters = Tracer(spark.sparkContext), SparkCounters(spark)
            for module, attr, span in w.traced:
                tracer.patch(module, attr, span)
            traced_from = len(ops)
        w.clear()
        if t_first is None:
            t_first = time.perf_counter()
            # set-up is what a user pays before the first op: the oracle
            # check is the benchmark's own work, so it is left out
            setup_s = process_age_s() - check_s
            log(f"set-up: {setup_s:.3f} s")
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        ok = True
        try:
            if tracer is not None:
                tracer.op = len(ops)
                result = w.run_op(tracer.call)
            else:
                result = w.run_op(_plain_call)
        except Exception:  # a failed op is counted, not fatal
            traceback.print_exc()
            ok, result = False, None
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        jvm_mb, worker_mb = peak_rss_mb()
        op = {"wall": wall, "cpu": cpu, "rss": jvm_mb + worker_mb,
              "ok": ok and not w.problems and w.check(w.outputs(result))}
        op["files"], op["bytes"] = w.sink_size()
        if tracer is not None:
            op["spark"] = counters.harvest()
            tracer.attribute_jobs(op_id := len(ops))
            op["jobs"] = tracer.op_jobs(op_id)
            op["spans"] = tracer.op_summary(op_id)
            missing = sorted({s for _m, _a, s in w.traced} - set(op["spans"]))
            if missing:
                log(f"traced op {op_id}: wrapped names never called: {missing}")
                op["ok"] = False
        op["spin"] = host_spin_s()
        ops.append(op)
        log(f"op {len(ops) - 1}: {wall:.3f} s wall, {cpu:.2f} cpu-s, "
            f"peak rss {jvm_mb:.0f} MB jvm + {worker_mb:.0f} MB worker, "
            f"spin {op['spin']:.3f} s, ok={op['ok']}{' traced' if tracer else ''}")
        if (time.perf_counter() - t_first >= seconds and len(ops) >= MIN_TIMED_OPS
                and (not trace or (traced_from is not None and len(ops) > traced_from))):
            break
    if tracer is not None:
        tracer.unpatch()
        with open(spans_path, "w") as fh:
            json.dump([dataclasses.asdict(s) for s in tracer.spans], fh)
        log(f"spans written to {spans_path}")

    failed = sum(not o["ok"] for o in ops)
    untraced = ops[:traced_from] if trace else ops
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(o["wall"] for o in untraced),
        "cpu_s_per_op": statistics.median(o["cpu"] for o in untraced),
        "peak_rss_mb": max(o["rss"] for o in ops),
        "ok_ratio": (len(ops) - failed) / len(ops),
    }
    metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    if trace:
        from layers import layer_metrics

        metrics = layer_metrics(ops[traced_from:], ops, values["op_p50_s"])
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "slow_tortoise_spark", "__init__.py")):
        print(f"perfbench: no slow_tortoise_spark package next to {HERE}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    # Spark's Python workers import the library from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
