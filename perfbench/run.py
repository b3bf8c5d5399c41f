"""sketchlib benchmark: one command, closed-loop workloads.

    python3 perfbench/run.py --workload {build,catalog} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process starts Spark at
``local[<nproc>]``; one client thread issues operations against
sketchlib's public API, each timed, and checks every answer against an
exact oracle computed from the generated inputs (``oracle.py``). The
workloads are in ``workloads.py``.

Set-up: the session starts (JVM plus one Python worker per core), the
workload sets itself up three times from nothing and keeps the last
set-up, then ``WARM_ROUNDS`` whole rounds run untimed. ``setup_s`` is
session start + median set-up + warm-up. The loop then runs whole
rounds until ``--seconds`` have passed.

End-to-end metrics (``--trace 0``):

- ``op_p50_ms``: median wall of the workload's headline op (a build; a
  catalog answer);
- ``ops_per_s``: timed ops completed per second of op time, every op
  kind of the round counted;
- ``driver_py_peak_rss_mb``: peak resident set of the driver Python
  process inside the loop's library calls (the oracle's own work, the
  appends and the checks, fall outside the window);
- ``setup_s``.

``--trace 1`` spends the first half of the loop untraced and the second
half with every public function of the library's layers wrapped in a
span (``trace.py``) and the Spark event log on, and prints the per-layer
metrics (``layers.py``) instead.

The last line of standard output is the result object; the line before
it records the host's conditions (cores, steal, the Count-Min kernel's
speed) and set-up detail. Each run leaves a record, its span dump and
Spark's captured stderr under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# whole rounds run before the measured loop (JIT, caches, worker state);
# a count, not a time, so the warm-up in setup_s follows the ops' cost
WARM_ROUNDS = 2
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s",
             "driver_py_peak_rss_mb": "MB"}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _reset_peaks(pids) -> None:
    """Give freed heap back to the kernel, then restart the VmHWM peak of
    each process, so the peak read next is that of what ran in between."""
    import ctypes
    ctypes.CDLL(None).malloc_trim(0)
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def _tree_bytes(path: str) -> int:
    total = 0
    for dp, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dp, n))
    return total


def _store_rows(store: str) -> int:
    import pyarrow.parquet as pq
    d = os.path.join(store, "sketches")
    if not os.path.isdir(d):
        return 0
    return sum(pq.read_metadata(os.path.join(dp, n)).num_rows
               for dp, _, names in os.walk(d) for n in names
               if n.endswith(".parquet"))


def weather_probe(seed: int, seconds: float = 0.6) -> float:
    """Closed-loop Count-Min ``update_batch`` over one Zipf chunk, no
    Spark: Mtok/s, median over repetitions. The kernel is the same in
    every run, so it doubles as the host's speed on the day."""
    import math

    import numpy as np

    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.datagen import chunk_tokens
    _, toks, _ = chunk_tokens(seed, 0, 8_000)
    toks = np.array(toks)
    cfg = CMConfig(eps=1e-4, delta=math.exp(-3), seed=1337)
    rates = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(rates) < 3:
        cm = CountMinSketch(cfg)
        t0 = time.perf_counter()
        cm.update_batch(toks)
        rates.append(len(toks) / (time.perf_counter() - t0) / 1e6)
    return statistics.median(rates)


def start_spark(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession
    tmp = os.path.join(run_dir, "tmp")
    cpus = _nproc()
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("sketchlib-perfbench")
         .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", tmp)
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "wh"))
         .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0"))
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", ev)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # start every Python worker and import the library there: worker
    # start-up is part of starting the session, not of the first set-up
    spark.sparkContext.parallelize(range(cpus), cpus).mapPartitions(
        _import_library).collect()
    return spark


def _import_library(rows):
    import sketchlib.catalog  # noqa: F401
    return [sum(1 for _ in rows)]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Times ops, runs their checks and keeps the tallies. With
    ``track_rss`` it also keeps the driver's peak RSS over the library
    calls alone: the peak is restarted before each timed call and read
    right after it, before the check."""

    def __init__(self, workload, tracer=None, store_stats=None) -> None:
        self.w = workload
        self.tracer = tracer
        self.store_stats = store_stats
        self.track_rss = False
        self.peak_rss_mb = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_round(self, i: int, walls: dict | None) -> float:
        """Run round ``i``; return the summed wall time of its timed ops.
        ``walls`` collects op kind -> [ms] (``None``: warm-up)."""
        total = 0.0
        for op in self.w.round(i):
            if op.kind is None:
                op.fn()
                continue
            self.attempted += 1
            store = self.w.store
            before = (_tree_bytes(store) if self.tracer and store else 0)
            root = self.tracer.begin_op(op.kind) if self.tracer else None
            if self.track_rss:
                _reset_peaks(["self"])
            t0 = time.perf_counter()
            try:
                if root is not None and op.layer:
                    with self.tracer.record_span(op.layer, op.label):
                        value = op.fn()
                else:
                    value = op.fn()
                err = None
            except Exception as e:  # one failed op must not end the run
                value, err = None, f"{op.label}: {type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            if self.track_rss:
                self.peak_rss_mb = max(self.peak_rss_mb, _hwm_mb("self"))
            if root is not None:
                self.tracer.end_op(root)
                if store:
                    self.store_stats[root.op] = {
                        "rows": _store_rows(store),
                        "grew": _tree_bytes(store) - before}
            if err is None:
                try:
                    err = op.check(value)
                except Exception as e:
                    err = f"{op.label} check: {type(e).__name__}: {e}"
            if err is not None:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(f"round {i} {op.kind}: {err}")
                continue
            total += dt
            if walls is not None:
                walls.setdefault(op.kind, []).append(dt * 1e3)
        return total

    def loop(self, first: int, deadline: float, walls: dict):
        """Whole rounds until ``deadline``; (rounds, ops, seconds)."""
        i, busy, ops = first, 0.0, 0
        while i == first or time.perf_counter() < deadline:
            n0 = sum(len(v) for v in walls.values())
            busy += self.run_round(i, walls)
            ops += sum(len(v) for v in walls.values()) - n0
            i += 1
        return i, ops, busy


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sketchlib
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(sketchlib.__file__)) != os.path.join(
            ROOT, "sketchlib"):
        print(f"perfbench: sketchlib is not the checkout's own "
              f"({sketchlib.__file__})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers import sketchlib from this checkout; scratch stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile
    tempfile.tempdir = tmp

    cpu0 = _cpu_times()
    host = {"nproc": _nproc(),
            "update_mtok_per_s": weather_probe(args.seed)}

    # Spark's JVM and its Python workers inherit fd 2: capture it per run
    log_path = os.path.join(run_dir, "spark_stderr.log")
    saved_fd = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        result, extra = _run(args, run_dir, host)
    except Exception:
        import traceback
        traceback.print_exc()
        result = None
    finally:
        sys.stderr.flush()
        os.dup2(saved_fd, 2)
        os.close(saved_fd)
    with open(log_path, errors="replace") as f:
        log = f.read()
    tracebacks = len(re.findall(r"Traceback \(most recent call last\)", log))
    if result is None:
        sys.stderr.write(log[-4000:])
        return 1
    cpu1 = _cpu_times()
    dt = max(1, cpu1[0] - cpu0[0])
    host["steal_pct"] = 100.0 * (cpu1[1] - cpu0[1]) / dt
    host["worker_tracebacks"] = tracebacks
    if args.trace:
        result["metrics"] = extra["layer_metrics"](host, tracebacks)
    if extra["errors"]:
        sys.stderr.write("perfbench: failed ops:\n  "
                         + "\n  ".join(extra["errors"]) + "\n")
    for d in os.listdir(run_dir):   # tables, stores, event log, scratch
        p = os.path.join(run_dir, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "detail": extra["detail"], "errors": extra["errors"],
              "walls_ms": extra["walls"],
              "result": result}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("host " + json.dumps({**host, **extra["detail"]}))
    print(json.dumps(result))
    return 0


def _run(args, run_dir: str, host: dict):
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(run_dir, bool(args.trace))
    session_s = time.perf_counter() - t0
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None),
                      "pid", None)
    try:
        w = WORKLOADS[args.workload](spark, os.path.join(run_dir, "data"),
                                     args.seed)
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.setup_rep(r)
            reps.append(time.perf_counter() - t0)
        w.prepare_oracle()
        runner = Runner(w)
        t0 = time.perf_counter()
        for i in range(WARM_ROUNDS):
            runner.run_round(i, None)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s

        walls: dict = {}
        traced_walls: dict = {}
        store_stats: dict = {}
        runner.track_rss = True
        if jvm_pid is not None:
            _reset_peaks([jvm_pid])
        start = time.perf_counter()
        if not args.trace:
            rounds, ops, busy = runner.loop(
                WARM_ROUNDS, start + args.seconds, walls)
        else:
            from perfbench.trace import Tracer
            rounds, _, _ = runner.loop(WARM_ROUNDS,
                                       start + args.seconds / 2, walls)
            tracer = Tracer(spark.sparkContext)
            traced_runner = Runner(w, tracer, store_stats)
            tracer.install()
            try:
                rounds, _, _ = traced_runner.loop(
                    rounds, start + args.seconds, traced_walls)
            finally:
                tracer.uninstall()
            runner.attempted += traced_runner.attempted
            runner.failed += traced_runner.failed
            runner.errors += traced_runner.errors
            ops = sum(len(v) for v in walls.values())
            busy = sum(sum(v) for v in walls.values()) / 1e3
        # the driver JVM's peak over the loop is recorded beside the
        # metrics: it moves with garbage-collector timing far more than
        # with the library
        rss_parts = [runner.peak_rss_mb] + (
            [_hwm_mb(jvm_pid)] if jvm_pid is not None else [])
    finally:
        stop_spark(spark)

    head = walls.get(w.headline, [])
    metrics = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(head) if head else 0.0,
        "ops_per_s": ops / busy if busy else 0.0,
        "driver_py_peak_rss_mb": rss_parts[0],
    }
    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed,
              "metrics": {k: {"value": v, "unit": E2E_UNITS[k]}
                          for k, v in metrics.items()}}
    detail = {"session_s": session_s, "setup_reps_s": reps,
              "warm_s": warm_s, "rounds": rounds - WARM_ROUNDS, "ops": ops,
              "op_counts": {k: len(v) for k, v in walls.items()},
              "op_p50_ms_by_kind": {k: statistics.median(v)
                                    for k, v in walls.items()},
              "rss_mb": rss_parts}
    if w.tokens and head:
        detail["build_tok_per_s"] = w.tokens * len(head) / (sum(head) / 1e3)
    extra = {"errors": runner.errors, "detail": detail, "walls": walls}

    if args.trace:
        from perfbench.eventlog import read_jobs
        from perfbench.layers import UNITS, layer_metrics
        jobs = read_jobs(os.path.join(run_dir, "eventlog"))
        detail["jobs_per_op_by_kind"] = {
            k: statistics.mean(o["group_jobs"] for o in tracer.ops
                               if o["type"] == k)
            for k in traced_walls}
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")

        def per_layer(host_now, tracebacks):
            vals = layer_metrics(
                tracer.spans, tracer.ops, jobs, traced_walls=traced_walls,
                untraced_walls=walls, headline=w.headline,
                store_stats=store_stats, host=host_now,
                tracebacks=tracebacks,
                wall_ms=tracer.wall_ms)
            return {k: {"value": v, "unit": UNITS[k]}
                    for k, v in vals.items()}
        extra["layer_metrics"] = per_layer
    return result, extra


if __name__ == "__main__":
    sys.exit(main())
