"""Per-layer metrics of a traced run: spans (trace.py) joined with the
event log's jobs and tasks (eventlog.py)."""

from __future__ import annotations

import statistics

from .trace import OP_LAYER, Span, op_breakdown

SELF_LAYERS = ("countmin", "serde", "spark_build", "incremental", "store",
               "catalog", "catalog_sql")
CATALOG_VERBS = ("frequency", "frequencies", "count_distinct", "topk",
                 "quantile")

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "host.nproc": "count",
    "host.steal_pct": "%",
    "countmin.update_mtok_per_s": "Mtok/s",
    "countmin.merge_ms": "ms",
    "countmin.self_ms": "ms",
    "serde.loads_ms": "ms",
    "serde.dumps_ms": "ms",
    "serde.blob_bytes": "bytes",
    "serde.self_ms": "ms",
    "spark_build.partials": "count",
    "spark_build.partial_ms_sum": "ms",
    "spark_build.partial_ms_p50": "ms",
    "spark_build.partial_ms_max": "ms",
    "spark_build.merge_ms": "ms",
    "spark_build.shuffle_bytes": "bytes",
    "spark_build.result_bytes": "bytes",
    "spark_build.jobs": "count",
    "spark_build.tasks": "count",
    "spark_build.self_ms": "ms",
    "incremental.self_ms": "ms",
    "incremental.fold_ms": "ms",
    "incremental.jobs": "count",
    "store.read_ms": "ms",
    "store.read_jobs": "count",
    "store.write_ms": "ms",
    "store.write_bytes": "bytes",
    "store.rows": "count",
    "store.self_ms": "ms",
    "catalog.self_ms": "ms",
    "catalog.jobs": "count",
    **{f"catalog.{v}_p50_ms": "ms" for v in CATALOG_VERBS},
    "catalog_sql.answer_ms": "ms",
    "catalog_sql.jobs": "count",
    "catalog_sql.self_ms": "ms",
    "unattributed_ms": "ms",
    "unattributed.jobs": "count",
    "spark.task_overhead_ms": "ms",
    "spark.tasks": "count",
    "spark.worker_tracebacks": "count",
    "trace.op_wall_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.attribution_errors": "count",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def attribute(spans: list[Span], ops: list[dict], jobs: dict) -> dict:
    """Join jobs to spans. Returns per-op ``{"jobs": [job], "excl":
    {layer: n}}`` plus each span's subtree job list, and the number of
    attribution errors: jobs whose span lies outside their op, and ops
    whose per-layer counts do not sum to the jobs Spark's status
    tracker saw in the op's job group."""
    by_id = {s.id: s for s in spans}
    per_op = {o["op"]: {"jobs": [], "excl": {}} for o in ops}
    subtree: dict[int, list] = {}
    errors = 0
    for job in sorted(jobs.values(), key=lambda j: j.id):
        if job.op not in per_op:
            continue
        rec = per_op[job.op]
        rec["jobs"].append(job)
        span = by_id.get(job.span)
        if span is None or span.op != job.op:
            errors += 1
            rec["excl"]["?"] = rec["excl"].get("?", 0) + 1
            continue
        rec["excl"][span.layer] = rec["excl"].get(span.layer, 0) + 1
        while span is not None:
            subtree.setdefault(span.id, []).append(job)
            span = by_id.get(span.parent) if span.parent is not None else None
    for o in ops:
        if sum(per_op[o["op"]]["excl"].values()) != o.get("group_jobs"):
            errors += 1
    return {"per_op": per_op, "subtree": subtree, "errors": errors}


def layer_metrics(spans: list[Span], ops: list[dict], jobs: dict, *,
                  traced_walls: dict, untraced_walls: dict, headline: str,
                  store_stats: dict, host: dict, tracebacks: int,
                  wall_ms) -> dict:
    """Every per-layer metric for the traced ops ``ops``.

    ``*_walls`` map op kind -> list of op wall times (ms) from the traced
    and the untraced half of the run; ``store_stats`` maps op id ->
    ``{"rows", "grew"}`` measured after the op; ``wall_ms`` converts a
    span clock time to event-log epoch milliseconds."""
    att = attribute(spans, ops, jobs)
    per_op, subtree = att["per_op"], att["subtree"]
    by_id = {s.id: s for s in spans}
    n_ops = max(1, len(ops))
    op_ids = {o["op"] for o in ops}
    mine = [s for s in spans if s.op in op_ids]

    def outermost(layer: str, pred=lambda s: True) -> list[Span]:
        out = []
        for s in mine:
            if s.layer != layer or not pred(s):
                continue
            p = by_id.get(s.parent)
            if p is not None and p.layer == layer and pred(p):
                continue
            out.append(s)
        return out

    breakdowns = {o["op"]: op_breakdown(spans, by_id[o["root"]]) for o in ops}
    sum_err = max((abs(sum(b.values()) - by_id[o["root"]].ms)
                   for o, b in zip(ops, breakdowns.values())), default=0.0)
    m: dict[str, float] = {}
    for layer in SELF_LAYERS + (OP_LAYER,):
        key = "unattributed_ms" if layer == OP_LAYER else f"{layer}.self_ms"
        m[key] = sum(b.get(layer, 0.0) for b in breakdowns.values()) / n_ops
    m["trace.op_wall_ms"] = _mean(by_id[o["root"]].ms for o in ops)

    def self_ms(s: Span) -> float:
        kids = sum(c.ms for c in mine if c.parent == s.id)
        return s.ms - kids

    def jobs_in(s: Span) -> list:
        return subtree.get(s.id, [])

    m["host.nproc"] = host["nproc"]
    m["host.steal_pct"] = host["steal_pct"]
    m["countmin.update_mtok_per_s"] = host["update_mtok_per_s"]
    m["countmin.merge_ms"] = _mean(
        s.ms for s in mine if s.name == "CountMinSketch.merge")

    serde = outermost("serde")
    m["serde.loads_ms"] = _mean(s.ms for s in serde
                                if s.info.get("kind") == "loads")
    m["serde.dumps_ms"] = _mean(s.ms for s in serde
                                if s.info.get("kind") == "dumps")
    m["serde.blob_bytes"] = _mean(s.info["bytes"] for s in serde
                                  if "bytes" in s.info)

    builds = [s for s in outermost("spark_build") if "build_ms" in s.info]
    parts = [s.info["build_ms"] for s in builds]
    m["spark_build.partials"] = _mean(len(p) for p in parts)
    m["spark_build.partial_ms_sum"] = _mean(sum(p) for p in parts)
    m["spark_build.partial_ms_p50"] = _mean(_p50(p) for p in parts if p)
    m["spark_build.partial_ms_max"] = _mean(max(p) for p in parts if p)
    merge = []
    for s in builds:
        js = sorted(jobs_in(s), key=lambda j: j.id)
        if js:
            merge.append(wall_ms(s.t1) - js[0].end_ms)
    m["spark_build.merge_ms"] = _mean(merge)
    for key, attr in (("shuffle_bytes", "shuffle_bytes"),
                      ("result_bytes", "result_bytes"),
                      ("tasks", "tasks")):
        m[f"spark_build.{key}"] = _mean(
            sum(getattr(j, attr) for j in jobs_in(s)) for s in builds)
    m["spark_build.jobs"] = _mean(len(jobs_in(s)) for s in builds)

    folds = [s for s in outermost("incremental")
             if s.name.startswith("incremental_build")]
    m["incremental.fold_ms"] = _mean(s.ms for s in folds)
    m["incremental.jobs"] = _mean(len(jobs_in(s)) for s in folds)

    reads = [s for s in mine if s.layer == "store"
             and s.info.get("kind") == "read"]
    m["store.read_ms"] = sum(self_ms(s) for s in reads) / n_ops
    m["store.read_jobs"] = sum(
        len(jobs_in(s)) for s in outermost(
            "store", lambda s: s.info.get("kind") == "read")) / n_ops
    writes = [s for s in mine if s.layer == "store"
              and s.info.get("kind") == "write"]
    publishes = [s for s in writes if s.name in ("save_sketch",
                                                 "save_sketches_bulk")]
    m["store.write_ms"] = (sum(self_ms(s) for s in writes) / len(publishes)
                           if publishes else 0.0)
    m["store.write_bytes"] = (
        sum(v["grew"] for v in store_stats.values()) / len(publishes)
        if publishes else 0.0)
    m["store.rows"] = _mean(v["rows"] for v in store_stats.values())

    cat = outermost("catalog")
    m["catalog.jobs"] = _mean(len(jobs_in(s)) for s in cat)
    # over the headline answers: an ``auto`` refresh is also a
    # ``frequency`` call, but one that folds a delta
    answers = {o["op"] for o in ops if o["type"] == headline}
    for verb in CATALOG_VERBS:
        m[f"catalog.{verb}_p50_ms"] = _p50(
            s.ms for s in cat
            if s.name == f"SketchCatalog.{verb}" and s.op in answers)

    sql = outermost("catalog_sql")
    m["catalog_sql.answer_ms"] = _mean(s.ms for s in sql)
    m["catalog_sql.jobs"] = _mean(len(jobs_in(s)) for s in sql)

    all_jobs = [j for rec in per_op.values() for j in rec["jobs"]]
    m["unattributed.jobs"] = sum(
        rec["excl"].get(OP_LAYER, 0) for rec in per_op.values()) / n_ops
    m["spark.task_overhead_ms"] = sum(
        j.task_overhead_ms for j in all_jobs) / n_ops
    m["spark.tasks"] = sum(j.tasks for j in all_jobs) / n_ops
    m["spark.worker_tracebacks"] = tracebacks

    m["trace.attribution_errors"] = att["errors"] + (sum_err > 1e-3)
    base = _p50(untraced_walls.get(headline, []))
    traced = _p50(traced_walls.get(headline, []))
    m["trace.overhead_pct"] = (traced / base - 1.0) * 100 if base else 0.0
    return {k: m[k] for k in UNITS}
