"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Inputs are generated from ``--seed`` and cached per seed under
``.perfbench/cache`` (outside both the timed phase and ``setup_s``).
Each run gets its own directory ``.perfbench/run-<pid>`` for the lake,
checkpoints, Spark local dirs and temp files, removed at the end. Spark
runs at ``local[nproc]`` with a driver heap sized below host RAM.

A run is: set-up (session start and warm-up, timed as ``setup_s``),
then passes of the workload's fixed op list until ``--seconds`` have
elapsed, then the output checks. With ``--trace 1`` the timed phase runs
a second time with span tracing on, and the per-layer metrics plus the
tracing overhead (traced minus untraced ``wall_s``) are printed instead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (each ``{"value", "unit"}``). The line before
it records the run's configuration. Without the engine's sources next
to it, the command exits non-zero and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datalake_backend_spark"
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "read_geomean_s": "s",
    "lake_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


class Run:
    """What a workload's ops see: the session, the engine, the run's
    directories, and the span scope (a no-op unless tracing)."""

    def __init__(self, work: str, cpus: int):
        self.root, self.work, self.cpus = ROOT, work, cpus
        self.spark = self.engine = self.tracer = None
        self.phase = "warm-up"

    def scope(self, name: str, layer: str, op: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, op)

    def traced(self, fn):
        return fn if self.tracer is None else self.tracer.wrapped(fn)


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _source_digest() -> str:
    """The checkout is not a git repository: identify the engine by a
    digest of its sources instead of a commit."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _prune_cache(cache_root: str, keep: str, max_entries: int = 8) -> None:
    """Inputs are cached per seed; keep the most recent few."""
    entries = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)),
                     key=os.path.getmtime, reverse=True)
    for d in entries[max_entries:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def geomean(xs: list[float]) -> float:
    """Geometric mean: a fixed op list mixes kinds whose latencies differ
    several-fold, and a median of ten such ops rests on the two middle
    ones, whichever ops they are in a run; every op counts here."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def timed_phase(run: Run, wl, seconds: float, first_pass: int) -> dict:
    """Whole passes of the op list until ``seconds`` have elapsed."""
    passes, lat, names, reads, failures = [], [], [], [], []
    start = time.perf_counter()
    pass_no = first_pass
    while True:
        p0 = time.perf_counter()
        for op_name, op in wl.ops(run, pass_no):
            t0 = time.perf_counter()
            with run.scope(op_name, "bench", op=f"{pass_no}:{op_name}"):
                try:
                    ok, read_s, detail = op()
                except Exception as e:  # noqa: BLE001 — one failed op must not end the run
                    traceback.print_exc(file=sys.stderr)
                    ok, read_s, detail = False, None, f"{type(e).__name__}: {e}"
            lat.append(time.perf_counter() - t0)
            names.append(op_name)
            if read_s is not None:
                reads.append(read_s)
            if not ok:
                failures.append((op_name, run.phase, detail))
        passes.append(time.perf_counter() - p0)
        pass_no += 1
        if time.perf_counter() - start >= seconds:
            break
    return {"passes": passes, "lat": lat, "names": names, "reads": reads, "failures": failures,
            "attempted": len(lat), "next_pass": pass_no}


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; nothing to run",
              file=sys.stderr)
        return 2

    os.chdir(ROOT)  # Python workers import the engine from the cwd
    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench", "cache", f"{wl.name}-seed{args.seed}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    _prune_cache(os.path.dirname(cache), keep=cache)
    driver_mb = min(3072, _host_memory_mb() // 4)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_GRAFT_EXPECTED_CONCURRENCY": str(wl.clients),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files in the system temp dir, for any JVM started
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)
    run = Run(work, cpus)
    try:
        return _run(args, wl, run, cache, driver_mb)
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        wh = os.path.join(ROOT, "spark-warehouse")
        if os.path.isdir(wh):
            for d in os.listdir(wh):
                if d.endswith(f"_{os.getpid()}"):
                    shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def _run(args, wl, run: Run, cache: str, driver_mb: int) -> int:
    wl.prepare(cache, args.seed)

    t_setup = time.perf_counter()
    from datalake_backend_spark import get_spark
    from datalake_backend_spark.engine import Engine

    run.spark = get_spark(
        "perfbench",
        master=f"local[{run.cpus}]",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{driver_mb}m -Xmn{driver_mb // 4}m -Djava.io.tmpdir={os.path.join(run.work, 'tmp')}"
            ),
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    run.engine = Engine(run.spark)
    session_s = time.perf_counter() - t_setup
    setup_errors = wl.setup(run)
    setup_s = time.perf_counter() - t_setup

    run.phase = "timed"
    stats = timed_phase(run, wl, args.seconds, first_pass=0)
    wall_s = statistics.median(stats["passes"])
    lake_ratio = wl.lake_bytes(run) / wl.input_bytes(len(stats["passes"]))

    per_layer = None
    if args.trace:
        from spans import Tracer

        run.tracer = Tracer(run.spark)
        run.tracer.install()
        run.phase = "traced"
        traced = timed_phase(run, wl, args.seconds, first_pass=stats["next_pass"])
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        per_layer = run.tracer.metrics(statistics.median(traced["passes"]), wall_s)
        run.tracer.uninstall()
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        run.tracer.dump(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.jsonl"))
        stats["failures"] += traced["failures"]

    sc = run.spark.sparkContext
    # before the checks: the DuckDB oracles run in this process
    peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(sc._gateway.proc.pid)
    failures = stats["failures"] + wl.check(run)
    for name, phase, detail in failures:
        print(f"perfbench: FAILED {phase} {name}: {detail}", file=sys.stderr)
    for err in setup_errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    timed_failed = sum(1 for _, p, _ in failures if p == "timed")

    config = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": sc.master,
        "default_parallelism": sc.defaultParallelism, "driver_memory_mb": driver_mb,
        "sf": wl.sf, "clients": wl.clients, "source_digest": _source_digest(),
        "session_s": round(session_s, 3), "pass_s": [round(p, 3) for p in stats["passes"]],
        "op_s": [[n, round(t, 3)] for n, t in zip(stats["names"], stats["lat"])],
    }
    if per_layer is None:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "op_geomean_s": geomean(stats["lat"]),
            # an op that raised before its reads has none
            "read_geomean_s": geomean(stats["reads"] or stats["lat"]),
            "lake_bytes_per_input_byte": lake_ratio,
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in per_layer.items()}
    _stop(run.spark)
    run.spark = None
    print(json.dumps({"run": config}))
    print(json.dumps({
        "correct": not failures and not setup_errors,
        "attempted": stats["attempted"],
        "failed": timed_failed,
        "metrics": metrics,
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
