"""Layered benchmark of tile_grid_spark.

    python3 perfbench/run.py --workload {pipeline,query} --seed N \
        --seconds S --trace {0,1}

Run from any directory; the checkout is the parent of perfbench/.  The
benchmark generates its inputs from --seed, hands them to the program's
public functions, checks every output, and prints one JSON object as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (work_cpu_s, setup_s).
--trace 1 measures the same work with per-call tracing and reports the
per-layer metrics listed in BENCHMARK.json; the tracing overhead against
the untraced runs of the same workload, seed and source recorded in
.perfbench-work/results.jsonl is a detail line.  Spans and counters go to
.perfbench-work/trace-<workload>-s<seed>.json.  Every line before the
last is human-facing detail.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
RESULTS = os.path.join(WORK, "results.jsonl")
WORKLOADS = ("pipeline", "query")
# the program's source and the benchmark's: untraced runs of another
# source are no baseline for a traced run's overhead
SOURCE_DIRS = ("tile_grid_spark", "jobs", "perfbench")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ledger:
    """Operations attempted and failed; a wrong output is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self._first: dict = {}
        self._lock = threading.Lock()  # serving clients check concurrently

    def expect(self, ok: bool, msg: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failures.append(msg)
        if not ok:
            print("CHECK FAILED:", msg, file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        self.expect(False, msg)

    def same(self, name: str, value) -> None:
        """Every call of one operation on one input returns one answer."""
        with self._lock:
            first = self._first.setdefault(name, value)
        self.expect(first == value, f"{name}: result {value} differs from first call {first}")


def session_conf(work: str) -> tuple[str, dict]:
    """Master and JVM sizing from the host it runs on: all cores, a quarter of
    physical memory for the heap (1-8 GiB), a third of it young gen."""
    cpus = len(os.sched_getaffinity(0))
    mem_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = min(max(mem_mib // 4, 1024), 8192)
    opts = (
        f"-XX:+UseParallelGC -Xmn{heap // 3}m -XX:-UsePerfData "
        f"-Djava.io.tmpdir={work}/tmp"
    )
    return f"local[{cpus}]", {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": opts,
        "spark.sql.shuffle.partitions": str(max(cpus, 4)),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # the package reaches the Python workers from any cwd
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }


def start_session(work: str):
    master, conf = session_conf(work)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every file Spark and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = conf["spark.executorEnv.PYTHONPATH"]
    from tile_grid_spark.plans.session import build_session

    spark = build_session("perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from spans import descendants

    children = set(descendants()) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(_running(p) for p in children):
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """The process exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def layer_metrics(wl, work_cpu_s: float) -> dict:
    """The per-layer metrics BENCHMARK.json lists: `engine.<key>` sums
    <key> over the traced calls (task_skew takes the worst), the module
    counters come from the workload, and a layer it did not run reads 0."""
    calls = wl.engine_calls
    out = {}
    for name, unit in per_layer_units().items():
        if name == "engine.task_skew":
            value = max([c.get("task_skew", 1.0) for c in calls] or [1.0])
        elif name.startswith("engine."):
            value = sum(c.get(name[len("engine."):], 0) for c in calls)
        elif name == "trace.work_cpu_s":
            value = work_cpu_s
        else:
            value = wl.layers.get(name, 0)
        out[name] = (value, unit)
    return out


def source_digest() -> str:
    h = hashlib.sha256()
    for top in SOURCE_DIRS:
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def untraced_work(workload: str, seed: int, source: str) -> list[float]:
    """work_cpu_s of the correct untraced runs of `workload` on `seed`
    with this source, recorded in this checkout."""
    try:
        with open(RESULTS) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    return [
        r["metrics"]["work_cpu_s"]["value"]
        for r in recs
        if (r["workload"], r["seed"], r.get("source"), r["trace"]) == (workload, seed, source, 0)
        and r["correct"]
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tile_grid_spark")) or not os.path.isfile(
        os.path.join(ROOT, "jobs", "run_pipeline.py")
    ):
        print(f"perfbench: {ROOT} is not a tile_grid_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    t_setup = time.perf_counter()
    spark = start_session(work)
    try:
        if args.workload == "pipeline":
            from pipeline import Pipeline as Workload
        else:
            from query import Query as Workload

        ledger = Ledger()
        tracer = Tracer(spark, run_id, enabled=False)
        wl = Workload(spark, tracer, ledger, args.seed)
        session_s = time.perf_counter() - t_setup
        t0 = time.perf_counter()
        wl.generate(work)  # the benchmark's own cost: reported, not in setup_s
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            wl.setup()  # per-run preparation and warm-up
            setup_s = session_s + time.perf_counter() - t0
            log(f"session {session_s:.1f}s, inputs {gen_s:.1f}s, setup {setup_s:.1f}s")
            tracer.enabled = bool(args.trace)
            work_s, work_cpu_s = wl.measure(args.seconds)
            log(f"work {work_s:.2f}s, {work_cpu_s:.2f} cpu-s")
        finally:
            if hasattr(wl, "release"):
                wl.release()
        metrics = {"work_cpu_s": (work_cpu_s, "s"), "setup_s": (setup_s, "s")}
        detail = {
            "work_s": (work_s, "s"),
            "session_s": (session_s, "s"),
            "gen_s": (gen_s, "s"),
            **wl.detail,
            "failed_frac": (len(ledger.failures) / max(ledger.attempted, 1), "ratio"),
        }
        source = source_digest()
        if args.trace:
            metrics = layer_metrics(wl, work_cpu_s)
            # tracing reads counters between calls, inside the CPU window
            baseline = untraced_work(args.workload, args.seed, source)
            if baseline:
                detail["trace.overhead_cpu_s"] = (work_cpu_s - statistics.median(baseline), "s")
                detail["trace.baseline_runs"] = (len(baseline), "count")
            else:
                log("trace.overhead_cpu_s unresolved: no untraced run of this workload, seed and source")
            for name, value in wl.layers.items():
                if name not in metrics:
                    unit = (
                        "ms" if name.endswith("_ms")
                        else "s" if name.endswith(("_s", ".s"))
                        else "count" if isinstance(value, int)
                        else "ratio"
                    )
                    detail[name] = (value, unit)
            tracer.write(
                os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"),
                {
                    "metrics": {k: v[0] for k, v in metrics.items()},
                    "detail": {k: v[0] for k, v in detail.items()},
                },
            )
        for name, (value, unit) in detail.items():
            print(f"{name:40s} {value:14.6g} {unit}")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": not ledger.failures,
        "attempted": ledger.attempted,
        "failed": len(ledger.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(RESULTS, "a") as f:
        record = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "source": source,
        }
        f.write(json.dumps({**record, **result, "detail": {k: v[0] for k, v in detail.items()}}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
