"""The store's one reader (sketchlib.store): point answers resolve with no
Spark job, and every consumer — Python verbs, their SQL twins, fleet
merges (``via=``), fleet scans (``as_df``) and listings — agrees with a
brute-force winner computed from the raw parquet rows of adversarial
stores (writer races, exact duplicates, crashed-epoch orphans,
pre-rebuild rows, corrupt superseded rows)."""

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow.dataset as pds
import pytest

from sketchlib import serde, store
from sketchlib.catalog import SketchCatalog, _factory_from_spec, _normalize_kinds
from sketchlib.catalog_sql import register_catalog_sql
from sketchlib.datagen import generate_token_table
from sketchlib.incremental import _MANIFEST_SCHEMA


def _jobs(spark, tag, fn):
    """Spark jobs ``fn`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup("after-" + tag, "after-" + tag)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_point_answers_launch_no_spark_jobs(spark, tmp_path):
    """A non-stale global answer, a single-group answer, explain(),
    entries() and stale_files() resolve through the pyarrow reader: zero
    Spark jobs. So does the first answer against a store that does not
    exist, which raises KeyError without touching Spark at all."""
    src = str(tmp_path / "_src.parquet")
    generate_token_table(src, rows=400, seed=5, dist="zipf")
    os.makedirs(tmp_path / "data")
    shutil.move(src, tmp_path / "data" / "part0.parquet")
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(data, "tokens", ["cm", "theta"])
    cat.register_grouped(data, "source", "tokens", ["theta", "cm"])
    g = sorted(cat.count_distinct_grouped(data, "source", "tokens").value)[0]

    ops = {
        "frequency": lambda: cat.frequency(data, "tokens", 5),
        "group": lambda: cat.count_distinct_grouped(
            data, "source", "tokens", group=g),
        "explain": lambda: cat.explain(data, "tokens"),
        "explain_grouped": lambda: cat.explain(data, "tokens",
                                               group_col="source"),
        "entries": cat.entries,
        "stale_files": lambda: cat.stale_files(data, "tokens"),
    }
    for tag, fn in ops.items():
        assert _jobs(spark, f"zero-{tag}", fn) == 0, tag

    missing = str(tmp_path / "absent")

    def first_answer():
        with pytest.raises(KeyError, match="not registered"):
            SketchCatalog(spark, missing).frequency(data, "tokens", 5)

    assert _jobs(spark, "zero-missing", first_answer) == 0
    # no SparkSession at all: nothing can reach the JVM (or its logs)
    with pytest.raises(KeyError, match="not registered"):
        SketchCatalog(None, missing).frequency(data, "tokens", 5)
    assert not os.path.exists(missing)


# -- property: every consumer agrees with a brute-force winner ----------------

_SPEC = {"version": 1, "column": "tokens", "group_col": "source",
         "kinds": _normalize_kinds([("cm", {"eps": 0.01}),
                                    ("theta", {"k": 64})])}


def _sketch(seed: int):
    ms = _factory_from_spec(_SPEC)()
    rng = np.random.default_rng(seed)
    ms.update_batch(rng.integers(0, 500, size=int(rng.integers(1, 200)),
                                 dtype=np.int64))
    return ms


def _row(name, seq, seed, meta, corrupt=False):
    blob = _sketch(seed).to_bytes()
    sha = "0" * 64 if corrupt else hashlib.sha256(blob).hexdigest()
    return (name, seq, "MULT", blob, sha, -1, meta)


def _brute(rows, names=None, lo=None, hi=None):
    """{name: (seq, sha256, blob)} — highest (seq, sha256) per name."""
    win = {}
    for r in rows:
        if names is not None and not names(r["name"]):
            continue
        if (lo is not None and r["seq"] < lo) or \
                (hi is not None and r["seq"] > hi):
            continue
        cur = win.get(r["name"])
        if cur is None or (r["seq"], r["sha256"]) > cur[:2]:
            win[r["name"]] = (r["seq"], r["sha256"], r["blob"])
    return win


def test_reader_property_all_consumers_agree(spark, tmp_path):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(n_groups=st.integers(1, 3), n_epochs=st.integers(1, 3),
           rebuild_at=st.integers(0, 3), seed=st.integers(0, 10_000),
           races=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2)),
                          max_size=3),
           dups=st.lists(st.integers(0, 50), max_size=2),
           orphans=st.lists(st.integers(0, 2), max_size=2),
           spark_part=st.booleans())
    def run(n_groups, n_epochs, rebuild_at, seed, races, dups, orphans,
            spark_part):
        root = tempfile.mkdtemp(dir=str(tmp_path))
        data, sp = os.path.join(root, "data"), os.path.join(root, "store")
        os.makedirs(data)
        cat = SketchCatalog(spark, sp, policy="stale_ok")
        fleet = cat._gname(data, "source", "tokens")
        gmeta = json.dumps({"catalog_spec": _SPEC,
                            "table_path": os.path.abspath(data),
                            "column": "tokens", "group_col": "source"},
                           sort_keys=True)
        rng = np.random.default_rng(seed)
        groups = [f"g{i}" for i in range(n_groups)]
        rows, markers = [], []
        base = 0
        for e in range(n_epochs):
            if e == rebuild_at and e > 0:
                base = e        # rebuild: every live group republishes
            touched = groups if e == base else \
                [g for g in groups if rng.random() < 0.6]
            if e == base and e > 0 and len(groups) > 1:
                touched = groups[1:]        # g0 dies at the rebuild
            for g in touched:
                rows.append(_row(f"{fleet}/{g}", e, seed * 31 + e * 7
                                 + int(g[1:]), gmeta))
            markers.append((fleet, e, "", base))
        epoch = n_epochs - 1
        for gi, off in races:       # same-seq writer races
            if gi < n_groups:
                s = max(base, epoch - off)
                rows.append(_row(f"{fleet}/g{gi}", s, seed + 1000 * (gi + 1)
                                 + off, gmeta))
        for gi in orphans:          # crashed epoch above the marker
            if gi < n_groups:
                rows.append(_row(f"{fleet}/g{gi}", epoch + 1,
                                 seed + 77 * (gi + 1), gmeta))
        # corrupt superseded row: below an intact committed winner
        live = sorted({r[0] for r in rows if base <= r[1] <= epoch
                       and r[1] > base})
        if live:
            rows.append(_row(live[0], base, 4242, gmeta, corrupt=True))
        # a global entry with a race, history and a corrupt old row
        gname = cat._name(data, "tokens")
        emeta = json.dumps({"catalog_spec": {k: v for k, v in _SPEC.items()
                                             if k != "group_col"},
                            "table_path": os.path.abspath(data),
                            "column": "tokens", "table_rows": 0},
                           sort_keys=True)
        rows += [_row(gname, 0, 1, emeta, corrupt=True),
                 _row(gname, 1, 2, emeta), _row(gname, 1, 3, emeta)]
        for i in dups:              # exact-duplicate rows
            rows.append(rows[i % len(rows)])

        order = rng.permutation(len(rows))
        parts = np.array_split(order, 3)
        for k, idx in enumerate(parts):
            chunk = [rows[i] for i in idx]
            if not chunk:
                continue
            if spark_part and k == 0:
                (store.one_part_df(spark, chunk, store._SKETCH_SCHEMA)
                 .write.mode("append").parquet(sp + "/sketches"))
            else:
                store._append_rows(spark, sp + "/sketches", chunk,
                                   store._SKETCH_SCHEMA)
        store._append_rows(spark, sp + "/ingested", markers,
                           _MANIFEST_SCHEMA)

        raw = pds.dataset(sp + "/sketches",
                          format="parquet").to_table().to_pylist()
        committed = _brute(raw, lambda n: n.startswith(fleet + "/"),
                           base, epoch)
        want = {n[len(fleet) + 1:]: serde.loads(b)
                for n, (_, sha, b) in committed.items()}
        assert all(hashlib.sha256(b).hexdigest() == sha
                   for _, sha, b in committed.values())
        merged = None
        for g in sorted(want):
            ms = serde.loads(want[g].to_bytes())
            if merged is None:
                merged = ms
            else:
                merged.merge(ms)
        cd = {g: float(ms.parts[1].estimate()) for g, ms in want.items()}
        key = int(rng.integers(0, 500))

        # Python verbs: dict, single group, as_df, via=
        assert cat.count_distinct_grouped(data, "source",
                                          "tokens").value == cd
        for g in groups:
            if g in want:
                assert cat.count_distinct_grouped(
                    data, "source", "tokens", group=g).value == cd[g]
            else:
                with pytest.raises(KeyError):
                    cat.count_distinct_grouped(data, "source", "tokens",
                                               group=g)
        df = cat.count_distinct_grouped(data, "source", "tokens",
                                        as_df=True).value
        assert {r["group"]: r["value"] for r in df.collect()} == cd
        via = cat.frequency(data, "tokens", key, via="source").value
        assert via == int(merged.parts[0].point_query(key))
        assert cat.count_distinct(data, "tokens", via="source").value \
            == float(merged.parts[1].estimate())
        glob = _brute(raw, lambda n: n == gname)[gname]
        assert cat.count_distinct(data, "tokens").value == \
            float(serde.loads(glob[2]).parts[1].estimate())
        assert cat.count_distinct(data, "tokens").seq == glob[0]

        # SQL twins
        register_catalog_sql(spark, sp)
        for g in want:
            assert spark.sql(
                f"SELECT catalog_count_distinct_group('{data}', 'source', "
                f"'tokens', '{g}') AS v").collect()[0]["v"] == cd[g]
        row = spark.sql(
            f"SELECT catalog_frequency_merged('{data}', 'source', "
            f"'tokens', {key}) AS f, catalog_count_distinct('{data}', "
            f"'tokens') AS c").collect()[0]
        assert row["f"] == via
        assert row["c"] == cat.count_distinct(data, "tokens").value

        # listing: one row per name, the unwindowed winner (orphans too)
        every = _brute(raw)
        listed = {(r["name"], r["seq"], r["sha256"])
                  for r in store.list_sketches(spark, sp).collect()}
        assert listed == {(n, s, h) for n, (s, h, _) in every.items()}
        shutil.rmtree(root, ignore_errors=True)

    run()
