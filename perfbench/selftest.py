"""Self-test of the span and event-log attribution on a tiny fixture.

    python3 perfbench/selftest.py

Runs one traced op of every shape the workloads use (a parquet CM build,
a catalog registration, each answer verb, the SQL twin, an append folded
by an ``auto`` answer, and the single-group / merged / full-fleet
answers of a small grouped catalog) and checks, for every op:

- each job of the op's job group is charged to exactly one span of that
  op, and the per-layer job counts sum to the number of jobs Spark's
  status tracker saw in the group (two independent sources);
- the per-layer self times plus the ``unattributed`` remainder equal the
  op's wall time.

It tests the attribution, not how many jobs the library launches today.
Prints one line per op and exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main() -> int:
    from perfbench.eventlog import read_jobs
    from perfbench.layers import attribute
    from perfbench.run import ROOT, start_spark, stop_spark
    from perfbench.trace import Tracer, op_breakdown

    run_dir = os.path.join(HERE, "out", f"selftest-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp

    from pyspark.sql import functions as F

    from sketchlib.catalog import SketchCatalog
    from sketchlib.catalog_sql import register_catalog_sql
    from sketchlib.countmin import CMConfig
    from sketchlib.datagen import generate_token_table
    from sketchlib import spark_build

    data = os.path.join(run_dir, "data")
    table = os.path.join(data, "table")
    generate_token_table(os.path.join(table, "part-0.parquet"), rows=500,
                         seed=3)
    spark = start_spark(run_dir, trace=True)
    try:
        cat = SketchCatalog(spark, os.path.join(data, "store"))
        register_catalog_sql(spark, os.path.join(data, "store"))
        fleet = os.path.join(data, "fleet")
        spark.range(0, 200).select(
            F.array((F.col("id") % 97).cast("int"),
                    (F.col("id") % 13).cast("int")).alias("tokens"),
            F.format_string("g%02d", F.col("id") % 20).alias("source")
        ).write.parquet(fleet)

        def append():
            src = os.path.join(data, "delta.parquet")
            generate_token_table(src, rows=20, seed=4)
            os.replace(src, os.path.join(table, "part-1.parquet"))
            return cat.frequency(table, "tokens", 5, policy="auto")

        ops = [
            # through the module attribute: a name bound before
            # install() would bypass the wrapper
            ("build", lambda: spark_build.build_sketch_parquet(
                spark, table, "tokens", CMConfig(1e-3, 0.05))),
            ("register", lambda: cat.register(
                table, "tokens", ["cm", "theta", "mg", "kll"])),
            ("frequency", lambda: cat.frequency(table, "tokens", 5)),
            ("frequencies", lambda: cat.frequencies(table, "tokens",
                                                    [1, 2, 3])),
            ("count_distinct", lambda: cat.count_distinct(table, "tokens")),
            ("topk", lambda: cat.topk(table, "tokens", k=3)),
            ("quantile", lambda: cat.quantile(table, "tokens", 0.5)),
            ("sql", lambda: spark.sql(
                f"SELECT catalog_frequency('{table}', 'tokens', 5)"
            ).collect()),
            ("refresh", append),
            ("register_grouped", lambda: cat.register_grouped(
                fleet, "source", "tokens",
                ["theta", ("mg", {"k": 8}), ("cm", {"eps": 1e-2})])),
            ("group", lambda: cat.count_distinct_grouped(
                fleet, "source", "tokens", group="g03")),
            ("merge", lambda: cat.frequency(fleet, "tokens", 5,
                                            via="source")),
            ("scan", lambda: cat.count_distinct_grouped(
                fleet, "source", "tokens", as_df=True).value.count()),
        ]
        tracer = Tracer(spark.sparkContext)
        tracer.install()
        try:
            for name, fn in ops:
                root = tracer.begin_op(name)
                if name == "sql":
                    with tracer.record_span("catalog_sql", name):
                        fn()
                else:
                    fn()
                tracer.end_op(root)
        finally:
            tracer.uninstall()
    finally:
        stop_spark(spark)

    jobs = read_jobs(os.path.join(run_dir, "eventlog"))
    att = attribute(tracer.spans, tracer.ops, jobs)
    by_id = {s.id: s for s in tracer.spans}
    bad = att["errors"]
    for o in tracer.ops:
        root = by_id[o["root"]]
        parts = op_breakdown(tracer.spans, root)
        gap = abs(sum(parts.values()) - root.ms)
        excl = att["per_op"][o["op"]]["excl"]
        ok = sum(excl.values()) == o["group_jobs"] and gap < 1e-3 \
            and "?" not in excl
        bad += not ok
        layers = " ".join(f"{k}={v}" for k, v in sorted(excl.items()))
        print(f"{'ok ' if ok else 'BAD'} {o['type']:<17} "
              f"jobs={o['group_jobs']:<3} {layers:<60} "
              f"wall={root.ms:8.1f}ms gap={gap:.2e}ms")
    shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest:", "PASS" if bad == 0 else f"FAIL ({bad} errors)")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
