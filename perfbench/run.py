"""Closed-loop benchmark of the gx_spark validation engine.

    python3 perfbench/run.py --workload audio_suite|wap_gate \
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Run it from the root of a checkout.  One process runs one workload with one
client on a `local[2]` session built the way `gx_spark/run.py` builds one.
Everything it writes goes to `.bench_work/` under the checkout and is removed
on exit.

Protocol (each step removes one source of run-to-run spread):
  * every JVM of the run compiles with C1 only (`JIT_OPTS`);
  * seeded data generation and its oracle, without Spark, untimed;
  * set-up, reported as `setup_s`: session start, loading the inputs and one
    small-input first operation, which pays for class loading, the Python
    workers and the first query plans;
  * warm-up, untimed: a fixed number of full operations (see `warm_up`);
  * before every operation, untimed: the workload's reset, JVM
    `System.gc()` and `gc.collect()`;
  * each operation's output is checked, untimed, against the oracle made
    with the inputs; a raise or a mismatch counts as failed;
  * right after each operation a reference pass over the same tables in plain
    PySpark (`scan`), after its own untimed GC, is timed and checked too;
    `op_scan_ratio` is the operations' median wall ÷ the passes' median
    wall over the window;
  * operation and pass repeat for `--seconds` of wall time, the window
    closing within half a pair of it.

The last stdout line is one JSON object: correct / attempted / failed /
metrics.  With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones (perfbench/layers.py).  The line before it is
a `detail` object, none of it gated: the sample counts, the operation's
median wall (`op_p50_ms`) and rows per second, the per-op and per-pass
arrays, the untimed phases and the hardware control.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# each task thread pairs with a Python worker in the audio UDF, so two task
# threads keep a 4-vCPU box (the measured one) from oversubscribing
SPARK_MASTER = "local[2]"
# one shuffle partition per core, as bench.py sets it; with the default 200
# most tasks of a small suite are empty post-shuffle tasks
SHUFFLE_PARTITIONS = "2"
DRIVER_MEMORY = "2g"
# C1 only: with the default tiered JIT, C2 keeps compiling in the background
# for twenty operations and more, costing about a second of CPU per operation
# and leaving each process at its own point of that slope; with C1 alone CPU
# per operation falls by about a tenth after the first two operations
# (perfbench/README.md, "JIT and warm-up")
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="'tiny' is the self-test scale (perfbench/selftest.py)")
    return ap.parse_args(argv)


# -- process-tree accounting from /proc ---------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # the comm field may hold spaces; everything after the last ')' is fixed
    return s[s.rindex(")") + 2:].split()


def process_tree(root_pid: int) -> list[int]:
    """root_pid plus every live descendant (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """utime+stime of the live tree, plus the reaped children each process
    waited for (a Python worker that exited is billed to its daemon)."""
    ticks = 0
    for pid in process_tree(root_pid):
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        # fields 14-17 of proc(5): utime stime cutime cstime
        ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def cpu_ticks() -> list[int]:
    """The box's aggregate CPU counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the box's CPU time between two cpu_ticks() readings that the
    hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d), 1)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def hw_control() -> float:
    """Single-threaded numpy FFT throughput (Melem/s): the same fixed
    pure-CPU work as bench.py's control.  Recorded beside the metrics so a
    reader can tell box drift from a program change; never gated."""
    import numpy as np

    x = np.random.default_rng(42).standard_normal(1 << 20)
    np.fft.rfft(x)  # the first call plans the transform
    t0 = time.perf_counter()
    for _ in range(4):
        np.fft.rfft(x)
    return 4 * (1 << 20) / (time.perf_counter() - t0) / 1e6


# -- session ------------------------------------------------------------------

def build_session(work_dir: str, binary_table: bool):
    from pyspark.sql import SparkSession

    from gx_spark.skew import binary_scan_session_defaults, session_defaults

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(SPARK_MASTER)
        .appName("gx-spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
    )
    builder = session_defaults(builder)
    if binary_table:
        builder = binary_scan_session_defaults(builder)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits when its stdin closes
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    me = os.getpid()
    while True:
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + 10
        for p in left:
            try:  # reap direct children so they do not linger as zombies
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


# -- protocol -----------------------------------------------------------------

def collect_garbage(spark) -> None:
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def run_op(spark, wl, inp, tracer=None, i: int = -1):
    """One untimed reset and GC, one timed operation, one untimed output
    check.  Returns (wall_s, cpu_s, ok)."""
    wl.before(spark, inp)
    collect_garbage(spark)
    me = os.getpid()
    cpu0 = tree_cpu_s(me)
    t0 = time.perf_counter()
    ok = True
    try:
        if tracer is not None:
            with tracer.operation(i):
                out = wl.op(spark, inp)
        else:
            out = wl.op(spark, inp)
    except Exception as exc:  # noqa: BLE001 — an operation error is a failure
        out, ok = exc, False
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s(me) - cpu0
    if ok:
        try:
            ok = bool(wl.check(inp, out))
        except Exception as exc:  # noqa: BLE001
            out, ok = exc, False
    if not ok:
        print(f"operation failed: {out!r}"[:500], file=sys.stderr)
    return wall, cpu, ok


def run_scan(spark, wl, inp):
    """One untimed GC, one timed reference pass, one untimed check of what
    it read.  Returns (wall_s, ok)."""
    collect_garbage(spark)
    t0 = time.perf_counter()
    ok = True
    try:
        out = wl.scan(spark, inp)
    except Exception as exc:  # noqa: BLE001
        out, ok = exc, False
    wall = time.perf_counter() - t0
    if ok and not wl.scan_check(inp, out):
        ok = False
    if not ok:
        print(f"reference pass failed: {out!r}"[:500], file=sys.stderr)
    return wall, ok


def warm_up(spark, wl):
    """`wl.warm_ops` full-input operations.  With C1 alone (`JIT_OPTS`) CPU
    per operation falls by only about a tenth more over the window after
    them (perfbench/README.md); a fixed count starts every window at the
    same point of that slope, whatever the box's speed.  Each is followed by
    a reference pass, which warms that too.
    Returns (walls, failures, operations run)."""
    walls, fails = [], 0
    for _ in range(wl.warm_ops):
        wall, _, ok = run_op(spark, wl, wl.main)
        _, scan_ok = run_scan(spark, wl, wl.main)
        walls.append(round(wall, 3))
        fails += (not ok) + (not scan_ok)
    return walls, fails, 2 * wl.warm_ops


def main(argv=None) -> int:
    args = parse_args(argv)
    work_dir = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too) keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}")
    # Python workers import gx_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.chdir(ROOT)
    try:
        return _run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        parent = os.path.dirname(work_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, work_dir: str) -> int:
    import gx_spark  # noqa: F401 — fail fast when the program is absent

    from workloads import make_workload

    wl = make_workload(args.workload, args.seed, args.size, work_dir)
    controls = [hw_control()]
    t_generate = time.perf_counter()
    wl.generate_inputs()
    t_session = time.perf_counter()
    spark = build_session(work_dir, wl.binary_table)
    try:
        t_load = time.perf_counter()
        wl.load_inputs(spark)
        t_first = time.perf_counter()
        first_wall, _, first_ok = run_op(spark, wl, wl.warm)
        setup_s = time.perf_counter() - t_session
        phases = {"imports_s": t_generate - T_START,
                  "generate_s": t_session - t_generate,
                  "session_s": t_load - t_session,
                  "load_s": t_first - t_load,
                  "first_op_s": first_wall}
        t_warm = time.perf_counter()
        warm_walls, warm_fail, warm_runs = warm_up(spark, wl)
        phases["warm_up_s"] = time.perf_counter() - t_warm
        warm_fail += not first_ok
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.install()
        walls, cpus, scans, pairs, failed = [], [], [], [], 0
        # the window closes within half an operation and its pass of
        # --seconds; the traced run times operations only
        ticks = cpu_ticks()
        t_end = time.perf_counter() + args.seconds
        while not pairs or (time.perf_counter()
                            + 0.5 * statistics.median(pairs) < t_end):
            t_pair = time.perf_counter()
            wall, cpu, ok = run_op(spark, wl, wl.main, tracer, len(walls))
            failed += not ok
            walls.append(wall)
            cpus.append(cpu)
            if tracer is None:
                scan, ok = run_scan(spark, wl, wl.main)
                failed += not ok
                scans.append(scan)
            pairs.append(time.perf_counter() - t_pair)
        steal = steal_share(ticks, cpu_ticks())
        controls.append(hw_control())
        rows = wl.main.rows
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_scan_ratio": (statistics.median(walls)
                                  / statistics.median(scans), "ratio"),
                "cpu_s_per_op": (statistics.median(cpus), "s"),
            }
        else:
            tracer.uninstall()
            metrics = tracer.metrics(rows_per_op=rows)
            metrics.update(tracer.microbenchmarks(wl.micro_payloads()))
        detail = {
            "workload": wl.name, "seed": args.seed, "size": args.size,
            "master": SPARK_MASTER, "rows_per_op": rows,
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "warm_up_wall_s": warm_walls, "warm_up_failed": warm_fail,
            "timed_ops": len(walls), "traced": bool(tracer),
            "op_p50_ms": round(statistics.median(walls) * 1e3, 1),
            "rows_per_s": round(rows * len(walls) / sum(walls), 1),
            "op_wall_s": [round(w, 4) for w in walls],
            "op_cpu_s": [round(c, 3) for c in cpus],
            "scan_wall_s": [round(w, 4) for w in scans],
            "hw_control_melem_s": [round(c, 1) for c in controls],
            "window_steal_share": round(steal, 4),
            "jvm_peak_rss_mb": round(vm_hwm_mb(jvm_pid(spark)), 1),
        }
    finally:
        stop_session(spark)
    print(json.dumps({"detail": detail}))
    # the first and the warm-up operations and every reference pass are
    # checked too, so they count
    attempted = len(walls) + len(scans) + 1 + warm_runs
    failed += warm_fail
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
