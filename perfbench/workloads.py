"""The benchmark's workloads: seeded inputs, the operations of one loop
round, and the oracle check of each answer.

A workload sets itself up several times (``setup_rep``), each time from
nothing into a fresh directory, and keeps the last set-up for the loop.
``round(i)`` returns the steps of round ``i``: an ``Op`` whose ``kind``
is ``None`` feeds input (an append) and is not timed; every other ``Op``
is one timed call into sketchlib's public API followed by its check.
"""

from __future__ import annotations

import math
import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import numpy as np

from . import oracle

CM_EPS = 1e-4
CM_DELTA = math.exp(-3)
INT31 = 2**31 - 1


@dataclass
class Op:
    kind: str | None          # op type; None = untimed input step
    label: str                # verb or call name
    fn: Callable[[], object]
    check: Callable[[object], str | None] = lambda value: None
    # layer of a span the benchmark opens itself around ``fn``, for calls
    # that enter the library other than through a public function
    layer: str | None = None


def _rse(contract: str) -> float:
    return float(re.search(r"rse=([0-9.]+)", contract).group(1))


def _gen_files(root: str, seed: int, rows: int, n_files: int) -> list[str]:
    """``n_files`` datagen token files of ``rows`` rows each, generated
    concurrently; file ``i`` is seeded ``seed * 1000 + i``, so the content
    depends on the seed alone."""
    from sketchlib.datagen import generate_token_table
    os.makedirs(root, exist_ok=True)
    paths = [os.path.join(root, f"part-{i:05d}.parquet")
             for i in range(n_files)]
    with ThreadPoolExecutor(n_files) as ex:
        list(ex.map(lambda i: generate_token_table(
            paths[i], rows=rows, seed=seed * 1000 + i, dist="zipf"),
            range(n_files)))
    return paths


class Workload:
    name = ""
    headline = ""             # op kind whose median is op_p50_ms
    store: str | None = None  # catalog store the ops read and publish to
    tokens = 0                # tokens one build folds (build workload)

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark = spark
        self.root = root
        self.seed = seed
        self.rng = np.random.default_rng([seed, 7])

    def setup_rep(self, r: int) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Exact answers for the inputs of the last set-up (not timed)."""

    def round(self, i: int) -> list[Op]:
        raise NotImplementedError


class Build(Workload):
    """Repeated parquet-direct Count-Min builds of one Zipf token table."""

    name = "build"
    headline = "build"
    ROWS_PER_FILE = 25_000
    FILES = 4

    def setup_rep(self, r: int) -> None:
        from sketchlib.countmin import CMConfig
        from sketchlib.spark_build import build_sketch_parquet
        self.table = os.path.join(self.root, f"rep{r}", "tokens")
        self.files = _gen_files(self.table, self.seed, self.ROWS_PER_FILE,
                                self.FILES)
        self.cfg = CMConfig(eps=CM_EPS, delta=CM_DELTA, seed=1337)
        res = build_sketch_parquet(self.spark, self.table, "tokens",
                                   self.cfg)
        if r == 0:
            self.first_blob = res.sketch.to_bytes()

    def prepare_oracle(self) -> None:
        first = oracle.read_tokens(self.files[:1])
        hot = self.rng.choice(first, 64)
        cold = self.rng.integers(0, INT31, 64)
        self.probes = oracle.ProbeCounts(np.concatenate([hot, cold]))
        for f in self.files:
            self.probes.feed(oracle.read_tokens([f]))
        self.tokens = self.probes.total

    def round(self, i: int) -> list[Op]:
        # looked up per round: a traced run swaps the module attribute
        from sketchlib.spark_build import build_sketch_parquet

        def check(res) -> str | None:
            blob = res.sketch.to_bytes()
            if blob != self.first_blob:
                return "build: blob differs from the first build's"
            if res.sketch.n_items != self.probes.total:
                return (f"build: n_items {res.sketch.n_items} != "
                        f"{self.probes.total} tokens")
            return oracle.check_cm(
                res.sketch.point_query_batch(self.probes.keys),
                self.probes.counts, self.probes.total, CM_EPS)
        return [Op("build", "build_sketch_parquet",
                   lambda: build_sketch_parquet(self.spark, self.table,
                                                "tokens", self.cfg),
                   check)]


class Catalog(Workload):
    """Writes beside reads on one registered catalog entry: each round
    appends a ~1% delta file, answers once with ``policy="auto"`` (fold
    the delta, republish), then runs a seeded verb mix on hot and cold
    keys, the SQL twin included."""

    name = "catalog"
    headline = "answer"
    ROWS = 10_000
    DELTA_ROWS = 100
    KINDS = ["cm", "theta", "mg", "kll"]

    def setup_rep(self, r: int) -> None:
        from sketchlib.catalog import SketchCatalog
        from sketchlib.catalog_sql import register_catalog_sql
        base = os.path.join(self.root, f"rep{r}")
        self.table = os.path.join(base, "table")
        self.files = _gen_files(self.table, self.seed, self.ROWS, 1)
        self.store = os.path.join(base, "store")
        self.cat = SketchCatalog(self.spark, self.store)
        self.cat.register(self.table, "tokens", self.KINDS)
        register_catalog_sql(self.spark, self.store)

    def prepare_oracle(self) -> None:
        self.counts = oracle.Counts(oracle.read_tokens(self.files))
        self.rows = self.ROWS

    def _append(self, i: int) -> None:
        from sketchlib.datagen import generate_token_table
        tmp = os.path.join(self.root, "delta.tmp.parquet")
        generate_token_table(tmp, rows=self.DELTA_ROWS,
                             seed=self.seed * 1000 + 500 + i, dist="zipf")
        self.counts.add(oracle.read_tokens([tmp]))
        self.rows += self.DELTA_ROWS
        # rename into place: the table only ever shows whole files
        os.replace(tmp, os.path.join(self.table,
                                     f"delta-{i:05d}.parquet"))

    def round(self, i: int) -> list[Op]:
        cat, t, counts = self.cat, self.table, self.counts
        hot = counts.top(100)
        k_auto = int(self.rng.choice(hot))
        key = int(self.rng.choice(hot) if self.rng.random() < 0.5
                  else self.rng.integers(0, INT31))
        keys = np.concatenate([self.rng.choice(hot, 500),
                               self.rng.integers(0, INT31, 500)])
        last = {}

        # checks read the oracle after this round's append
        def fresh(a, refreshed: bool = False) -> str | None:
            return (oracle.check_equal(a.covered_rows, self.rows,
                                       "covered_rows")
                    or oracle.check_equal(a.refreshed, refreshed,
                                          "refreshed")
                    or oracle.check_equal(a.stale_files, 0, "stale_files"))

        def cm(est, ks) -> str | None:
            return oracle.check_cm(est, counts.count(ks), counts.total,
                                   CM_EPS)

        def freq():
            last["v"] = cat.frequency(t, "tokens", key)
            return last["v"]

        def sql():
            return self.spark.sql(
                f"SELECT catalog_frequency('{t}', 'tokens', {key}) AS v"
            ).collect()[0]["v"]

        return [
            Op(None, "append", lambda: self._append(i)),
            Op("refresh", "frequency",
               lambda: cat.frequency(t, "tokens", k_auto, policy="auto"),
               lambda a: fresh(a, True) or cm(a.value, [k_auto])),
            Op("answer", "frequency", freq,
               lambda a: fresh(a) or cm(a.value, [key])),
            Op("answer", "catalog_frequency", sql,
               lambda v: oracle.check_equal(v, last["v"].value, "sql twin")
               or cm(v, [key]), "catalog_sql"),
            Op("answer", "frequencies",
               lambda: cat.frequencies(t, "tokens", keys),
               lambda a: fresh(a) or cm(a.value, keys)),
            Op("answer", "count_distinct",
               lambda: cat.count_distinct(t, "tokens"),
               lambda a: fresh(a) or oracle.check_distinct(
                   a.value, counts.distinct, _rse(a.contract))),
            Op("answer", "topk", lambda: cat.topk(t, "tokens", k=10),
               lambda a: fresh(a) or oracle.check_top1(a.value, counts)),
            Op("answer", "quantile",
               lambda: cat.quantile(t, "tokens", 0.5),
               lambda a: fresh(a) or oracle.check_in_window(
                   a.value, counts.rank_window(0.45, 0.55))),
        ]


WORKLOADS = {w.name: w for w in (Build, Catalog)}
