"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload resolve_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. With ``--trace 0`` it sets up the
workload's inputs several times (median = ``setup_s``), warms the JVM up
with a fixed number of ops, then runs the op in a closed loop with one
caller for ``--seconds`` and prints the end-to-end metrics. With
``--trace 1`` it runs the traced measurement of ``trace.py`` and prints
the per-layer metrics. The last stdout line is the JSON result; the line
before it is a JSON stamp of the run's environment. Run records (stamp,
warm-up curve, per-op times, spans) are written to ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKDIR = os.path.join(ROOT, ".perfbench_work")
RUNDIR = os.path.join(ROOT, ".perfbench_runs")

CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# JIT warm-up ops before timing; a fixed count, so that every run and
# every commit times the same stretch of the warm-up curve
WARMUP_OPS = {"resolve_bulk": 3, "corpus_dedup": 1}
# timed ops per run at least, whatever --seconds says: a median needs
# three, and one corpus_dedup pass alone takes about 10 s
MIN_OPS = 3


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics declared
    in BENCHMARK.json, the one list of what a run must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ---------------------------------------------------------------------------
# process tree: RSS and CPU from /proc
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def tree_memory_mb(pid: int, jvm: int) -> float:
    """Resident memory of the process tree: the JVM's RSS plus the
    proportional set size (PSS) of every other process. PSS splits a page
    that forked Python workers share with their daemon among them rather
    than counting it once per process. The JVM shares next to nothing,
    and reading its RSS from ``statm`` is cheap, where walking its page
    tables for ``smaps_rollup`` costs tens of milliseconds of CPU."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            if p == jvm:
                with open(f"/proc/{p}/statm") as f:
                    total_kb += int(f.read().split()[1]) * PAGE_KB
                continue
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total_kb / 1024.0


class PeakMemory:
    """Largest ``tree_memory_mb`` seen, sampled on a background thread."""

    def __init__(self, pid: int, jvm: int, period_s: float = 0.5):
        self.peak_mb, self.samples = 0.0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, args=(pid, jvm, period_s), daemon=True
        )

    def _run(self, pid: int, jvm: int, period_s: float) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_memory_mb(pid, jvm))
            self.samples += 1
            if self._stop.wait(period_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_seconds(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session():
    for sub in ("tmp", "spark-local", "scratch", "warehouse"):
        os.makedirs(os.path.join(WORKDIR, sub), exist_ok=True)
    tmp = os.path.join(WORKDIR, "tmp")
    local = os.path.join(WORKDIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from t_res_spark.session import get_spark

    cores = min(CORES, len(os.sched_getaffinity(0)))
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.tres.scratchDir": os.path.join(WORKDIR, "scratch"),
            "spark.sql.warehouse.dir": os.path.join(WORKDIR, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc if gw is not None else None
    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for p in tree:
            while os.path.exists(f"/proc/{p}") and _alive(p):
                if time.time() > deadline:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                    deadline = time.time() + 5
                time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def between_ops(spark) -> None:
    """Isolate ops: drop cached frames and collect garbage on both sides."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# stamp
# ---------------------------------------------------------------------------


def source_digest() -> str:
    """sha256 over the program and benchmark sources (checkouts carry no git)."""
    h = hashlib.sha256()
    for top in ("t_res_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def calibration_ms() -> float:
    """Median wall time of a fixed pure-Python loop, of three. It runs no
    Spark, so when it is slow, the host was slow."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(1000.0 * (time.perf_counter() - t0))
    return statistics.median(times)


def stamp(spark, args) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "cpu_affinity": sorted(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "git_commit": git_commit(), "source_sha256": source_digest(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


# ---------------------------------------------------------------------------
# untraced end-to-end run
# ---------------------------------------------------------------------------


def run_e2e(spark, name: str, seed: int, seconds: float, record: dict) -> dict:
    from perfbench import workloads as wl

    setup, op, check = wl.WORKLOADS[name]
    setup_s = []
    for rep in range(SETUP_REPS):
        d = wl.fresh_dir(os.path.join(WORKDIR, f"inputs{rep}"))
        t0 = time.perf_counter()
        w = setup(spark, seed, d)
        setup_s.append(time.perf_counter() - t0)
    between_ops(spark)

    warmup = []
    for _ in range(WARMUP_OPS[name]):
        out = op(spark, w)
        warmup.append(out.seconds)
        check(spark, w, out)
        between_ops(spark)

    jvm = jvm_pid()
    times, ops = [], []
    attempted = failed = items = 0
    t_loop = time.perf_counter()
    with PeakMemory(os.getpid(), jvm) as mem:
        while attempted < MIN_OPS or time.perf_counter() - t_loop < seconds:
            attempted += 1
            c_py, c_jvm = time.process_time(), cpu_seconds(jvm)
            try:
                out = op(spark, w)
                ok = check(spark, w, out)
            except Exception:
                traceback.print_exc()
                out, ok = None, False
            ops.append({
                "wall_s": out.seconds if out else None, "ok": ok,
                "driver_cpu_s": time.process_time() - c_py,
                "jvm_cpu_s": cpu_seconds(jvm) - c_jvm,
            })
            if ok:
                times.append(out.seconds)
                items += out.items
            else:
                failed += 1
            between_ops(spark)

    metrics = {
        "setup_s": statistics.median(setup_s),
        "op_p50_ms": 1000.0 * statistics.median(times) if times else 0.0,
        "items_per_s": items / sum(times) if times else 0.0,
        "ok_rate": (attempted - failed) / attempted,
        "peak_rss_mb": mem.peak_mb,
        "quality": w.quality or 0.0,
    }
    record.update(setup_s=setup_s, warmup_s=warmup, ops=ops)
    samples = {"setup_s": len(setup_s), "op_p50_ms": len(times),
               "items_per_s": len(times), "ok_rate": attempted,
               "peak_rss_mb": mem.samples, "quality": 1}
    units = metric_units("end_to_end")
    for k, v in metrics.items():
        print(f"{k:>12} {v:14.4f} {units[k]:<8} n={samples[k]}")
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def run_traced(spark, name: str, seed: int, seconds: float, record: dict) -> dict:
    from perfbench import trace

    out = trace.run(spark, name, seed, seconds, WORKDIR, lambda: between_ops(spark))
    layers = out["layers"]
    record.update(spans=out["spans"], notes=out["notes"])
    units = metric_units("per_layer")
    missing = sorted(set(units) - set(layers))
    if missing:
        raise RuntimeError(f"traced run produced no value for {missing}")
    for k, u in units.items():
        print(f"{k:>26} {layers[k]:14.4f} {u}")
    checks = out["notes"]["checks"] + [out["notes"]["serving_ok"]]
    failed = checks.count(False)
    return {
        "correct": failed == 0, "attempted": len(checks), "failed": failed,
        "metrics": {k: {"value": float(layers[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["resolve_bulk", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "t_res_spark", "__init__.py")):
        print(f"perfbench: no t_res_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORKDIR, ignore_errors=True)
    os.makedirs(RUNDIR, exist_ok=True)

    load_start, calib_start = os.getloadavg(), calibration_ms()
    t0 = time.perf_counter()
    spark = start_session()
    record = {"session_start_s": time.perf_counter() - t0}
    try:
        record["stamp"] = stamp(spark, args)
        runner = run_traced if args.trace else run_e2e
        result = runner(spark, args.workload, args.seed, args.seconds, record)
    finally:
        stop_session(spark)
        shutil.rmtree(WORKDIR, ignore_errors=True)
    record["stamp"].update(
        loadavg_start=load_start, loadavg_end=os.getloadavg(),
        calibration_ms_start=calib_start, calibration_ms_end=calibration_ms(),
        driver_maxrss_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        wall_s=time.perf_counter() - t0,
    )
    path = os.path.join(
        RUNDIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    summary = {k: v for k, v in record.items() if k != "spans"}
    print(json.dumps({**summary, "record": os.path.relpath(path, ROOT)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
