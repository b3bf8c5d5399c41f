"""Sketch store: parquet-backed publish/load of final sketches.

Byte-identity round trip for every sketch type, latest-wins versioning,
integrity rejection of corrupt blobs, and lineage preserved alongside.
"""

import math

import numpy as np
import pytest

from sketchlib.store import (list_sketches, load_lineage, load_sketch,
                             save_sketch)


def _all_sketches():
    from sketchlib.bloom import BloomFilter
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.ddsketch import DDSketch
    from sketchlib.hll import HllSketch
    from sketchlib.kll import KllSketch
    from sketchlib.mg import MisraGries
    from sketchlib.tdigest import TDigest

    rng = np.random.default_rng(5)
    toks = rng.integers(0, 1000, size=5000).astype(np.int64)
    vals = rng.normal(100.0, 15.0, size=5000)

    cm = CountMinSketch(CMConfig(eps=1e-3, delta=math.exp(-3), seed=7))
    cm.update_batch(toks)
    hll = HllSketch(p=12)
    hll.update_batch(toks)
    bf = BloomFilter(capacity=5000, fpr=0.01, seed=3)
    bf.update_batch(toks)
    dd = DDSketch(alpha=0.01)
    dd.update_batch(vals)
    kll = KllSketch(k=200)
    kll.update_batch(vals)
    td = TDigest(delta=100.0)
    td.update_batch(vals)
    mg = MisraGries(k=64)
    mg.update_batch(toks)
    from sketchlib.countsketch import CSConfig, CountSketch
    from sketchlib.dyadic import DyadicCM
    from sketchlib.theta import ThetaSketch
    cs = CountSketch(CSConfig(width=512, depth=3, seed=7))
    cs.update_batch(toks)
    dy = DyadicCM(universe_bits=10, eps=0.01, delta=0.05, seed=7)
    dy.update_batch(toks)
    th = ThetaSketch(256, seed=7)
    th.update_batch(toks)
    from sketchlib.fd import FrequentDirections
    fd = FrequentDirections(ell=8, dim=16)
    fd.update_batch(np.arange(25 * 16, dtype=np.float64).reshape(25, 16))
    from sketchlib.psample import PrioritySample
    ps = PrioritySample(k=32, seed=7)
    ps.update_pairs([f"k{t}" for t in toks[:400]],
                    (toks[:400] % 97 + 1).astype(np.float64),
                    [f"g{t % 3}" for t in toks[:400]])
    return {"cm": cm, "hll": hll, "bloom": bf, "dd": dd,
            "kll": kll, "td": td, "mg": mg, "cs": cs, "dy": dy,
            "theta": th, "fd": fd, "ps": ps}


def test_roundtrip_all_types_byte_identical(spark, tmp_path):
    store = str(tmp_path / "store")
    sks = _all_sketches()
    for name, sk in sks.items():
        seq = save_sketch(spark, store, name, sk, n_rows=5000,
                          meta={"eps": "test"})
        assert seq == 0
    for name, sk in sks.items():
        got = load_sketch(spark, store, name)
        assert type(got) is type(sk)
        assert got.to_bytes() == sk.to_bytes()
    listing = {r["name"]: r for r in list_sketches(spark, store).collect()}
    assert set(listing) == set(sks)
    assert all(r["n_rows"] == 5000 for r in listing.values())


def test_latest_wins_and_seq_pinning(spark, tmp_path):
    from sketchlib.countmin import CMConfig, CountMinSketch

    store = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.1, seed=1)
    a, b = CountMinSketch(cfg), CountMinSketch(cfg)
    a.update_batch(np.array([1, 2, 3], dtype=np.int64))
    b.update_batch(np.array([7, 8, 9, 9], dtype=np.int64))
    assert save_sketch(spark, store, "x", a) == 0
    assert save_sketch(spark, store, "x", b) == 1
    assert load_sketch(spark, store, "x").to_bytes() == b.to_bytes()
    assert load_sketch(spark, store, "x", seq=0).to_bytes() == a.to_bytes()
    assert list_sketches(spark, store).count() == 1  # latest only
    with pytest.raises(KeyError):
        load_sketch(spark, store, "nope")


def test_corrupt_blob_rejected(spark, tmp_path):
    import glob
    import os

    from sketchlib.countmin import CMConfig, CountMinSketch

    store = str(tmp_path / "store")
    cm = CountMinSketch(CMConfig(eps=1e-2, delta=0.1, seed=1))
    cm.update_batch(np.array([4, 4, 5], dtype=np.int64))
    save_sketch(spark, store, "x", cm)
    # flip bytes in the stored blob by rewriting the parquet with a
    # corrupted copy (simulates storage rot; sha no longer matches)
    import pyarrow.parquet as pq
    import pyarrow as pa
    f = glob.glob(store + "/sketches/*.parquet")[0]
    t = pq.read_table(f)
    blob = bytearray(t.column("blob")[0].as_py())
    blob[-1] ^= 0xFF
    cols = {c: t.column(c) for c in t.column_names}
    cols["blob"] = pa.array([bytes(blob)], type=pa.binary())
    pq.write_table(pa.table(cols), f)
    for crc in glob.glob(store + "/sketches/.*.crc"):
        os.remove(crc)  # drop Hadoop's CRC sidecars: OUR sha must catch it
    with pytest.raises(IOError):
        load_sketch(spark, store, "x")


def test_lineage_roundtrip_with_build(spark, tmp_path):
    from sketchlib.countmin import CMConfig
    from sketchlib.spark_build import build_sketch_generated

    store = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.1, seed=2)
    res = build_sketch_generated(spark, 120_000, cfg, seed=5)
    save_sketch(spark, store, "gen", res.sketch, lineage=res.lineage,
                n_rows=res.n_rows)
    lin = load_lineage(spark, store, "gen").orderBy("pid").collect()
    assert len(lin) == len(res.lineage) == 2
    assert sum(r["n_rows"] for r in lin) == 120_000
    assert (load_sketch(spark, store, "gen").to_bytes()
            == res.sketch.to_bytes())


def test_latest_entry_and_same_seq_tiebreak(spark, tmp_path):
    """ADVICE r2: two writers that raced to the same seq must resolve
    deterministically (sha256 tie-break), and latest_entry surfaces the
    winning version's meta."""
    import pyarrow.parquet as pq
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib import store
    import numpy as np

    path = str(tmp_path / "race_store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    a = CountMinSketch(cfg)
    a.update_batch(np.arange(10, dtype=np.int64))
    b = CountMinSketch(cfg)
    b.update_batch(np.arange(20, dtype=np.int64))
    store.save_sketch(spark, path, "raced", a, meta={"writer": "a"})
    # simulate the race: second writer appends the SAME seq 0
    row = [("raced", 0, "CM01", b.to_bytes(),
            __import__("hashlib").sha256(b.to_bytes()).hexdigest(),
            -1, '{"writer": "b"}')]
    (spark.createDataFrame(row, store._SKETCH_SCHEMA)
     .coalesce(1).write.mode("append").parquet(path + "/sketches"))

    expect = max([(a, "a"), (b, "b")],
                 key=lambda t: __import__("hashlib")
                 .sha256(t[0].to_bytes()).hexdigest())
    got = store.load_sketch(spark, path, "raced")
    assert got.to_bytes() == expect[0].to_bytes()
    ent = store.latest_entry(spark, path, "raced")
    assert ent is not None and ent[0] == 0
    assert ent[1]["writer"] == expect[1]
    assert store.latest_entry(spark, path, "nope") is None
    assert store.latest_entry(spark, str(tmp_path / "absent"), "x") is None


def test_compact_store_preserves_everything(spark, tmp_path):
    """Compaction merges each table into one file while every read —
    latest, seq-pinned, grouped, manifest state, snapshot diff — returns
    byte-identical results; a second compaction is a no-op-shaped pass,
    and crash-left duplicate rows are dropped."""
    import functools
    import math
    import os
    import shutil

    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.datagen import generate_token_table
    from sketchlib.incremental import (incremental_build,
                                       incremental_build_grouped,
                                       snapshot_diff)

    cfg = CMConfig(eps=1e-3, delta=math.exp(-3), seed=7)
    fac = functools.partial(CountMinSketch, cfg)
    data = str(tmp_path / "data")
    os.makedirs(data)
    st = str(tmp_path / "store")

    def _part(name, rows, seed):
        src = str(tmp_path / "_s.parquet")
        generate_token_table(src, rows=rows, seed=seed, dist="zipf")
        shutil.move(src, os.path.join(data, name))

    def gstate():
        epoch, base = store.read_epoch(st, "g")
        return epoch, base, store.read_manifest(st, "g", min_seq=base,
                                                max_seq=epoch)

    _part("p0.parquet", 600, 1)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=st, name="g")
    _part("p1.parquet", 300, 2)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=st, name="g")

    before = {
        "latest": store.load_sketch(spark, st, "cm").to_bytes(),
        "pinned": store.load_sketch(spark, st, "cm", seq=0).to_bytes(),
        "groups": {g: s.to_bytes() for g, s in
                   store.load_group_sketches(spark, st, "g").items()},
        "gstate": gstate(),
        "diff": snapshot_diff(spark, st, "cm", seq_old=0).to_bytes(),
    }
    n_files = len([f for f in os.listdir(st + "/sketches")
                   if f.endswith(".parquet")])
    assert n_files > 1

    stats = store.compact_store(spark, st)
    assert stats["sketches"]["files_after"] == 1
    assert stats["ingested"]["files_after"] == 1
    spark.catalog.clearCache()

    after = {
        "latest": store.load_sketch(spark, st, "cm").to_bytes(),
        "pinned": store.load_sketch(spark, st, "cm", seq=0).to_bytes(),
        "groups": {g: s.to_bytes() for g, s in
                   store.load_group_sketches(spark, st, "g").items()},
        "gstate": gstate(),
        "diff": snapshot_diff(spark, st, "cm", seq_old=0).to_bytes(),
    }
    assert before == after

    # incremental maintenance keeps working across the compaction
    _part("p2.parquet", 200, 3)
    r = incremental_build(spark, data, "tokens", fac,
                          store_path=st, name="cm")
    assert r.new_rows == 200

    # crash-left duplicates: copy the compacted file, compact again
    d = st + "/sketches"
    comp = [f for f in os.listdir(d) if f.endswith(".parquet")]
    shutil.copy(os.path.join(d, comp[0]),
                os.path.join(d, "compact-crashdupe.parquet"))
    stats2 = store.compact_store(spark, st)
    assert stats2["sketches"]["dupes_dropped"] > 0
    assert (store.load_sketch(spark, st, "cm").to_bytes()
            == r.sketch.to_bytes())


def test_corrupt_superseded_row_does_not_break_group_reads(spark, tmp_path):
    """Winner selection happens before integrity checks, so a bit-rotted
    HISTORICAL version can't fail a read whose winners are intact — and
    the corrupt row still raises when it IS the winner."""
    import numpy as np
    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    good = CountMinSketch(cfg)
    good.update_batch(np.arange(50, dtype=np.int64))
    # seq 0: a row whose recorded sha does NOT match its blob (bit rot)
    row = [("g/a", 0, "CM01", good.to_bytes(), "0" * 64, -1, "{}")]
    (store.one_part_df(spark, row, store._SKETCH_SCHEMA)
     .write.mode("append").parquet(path + "/sketches"))
    # seq 1: an intact winner for the same group
    store.save_sketch(spark, path, "g/a", good)
    loaded = store.load_group_sketches(spark, path, "g")
    assert loaded["a"].to_bytes() == good.to_bytes()
    # when the corrupt row IS the winner, the read must still refuse
    with pytest.raises(IOError, match="corrupt"):
        store.load_group_sketches(spark, path, "g", max_seq=0)


def test_list_sketches_one_row_per_name_after_race(spark, tmp_path):
    """A same-seq writer race (two different blobs at one seq) must not
    make listings emit duplicate names — the listing shows the same
    winner every loader returns."""
    import hashlib as _h
    import numpy as np
    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    a = CountMinSketch(cfg)
    a.update_batch(np.arange(10, dtype=np.int64))
    b = CountMinSketch(cfg)
    b.update_batch(np.arange(20, dtype=np.int64))
    store.save_sketch(spark, path, "raced", a)
    row = [("raced", 0, "CM01", b.to_bytes(),
            _h.sha256(b.to_bytes()).hexdigest(), -1, "{}")]
    (store.one_part_df(spark, row, store._SKETCH_SCHEMA)
     .write.mode("append").parquet(path + "/sketches"))
    listing = store.list_sketches(spark, path).collect()
    assert len(listing) == 1
    winner = store.load_sketch(spark, path, "raced")
    assert listing[0]["sha256"] == _h.sha256(winner.to_bytes()).hexdigest()


def test_winners_streaming_matches_window_winners(spark, tmp_path):
    """The reader's winner rule picks, per name, the highest (seq,
    sha256) row; the Spark blob scan (store.winner_rows) keeps exactly
    those rows without shuffling payloads, and an exact duplicate (same
    name, seq AND sha) collapses to ONE row there as well."""
    from sketchlib import store

    path = str(tmp_path / "store")
    rows = [("a", 0, "s0", b"old"), ("a", 2, "s2", b"new"),
            ("b", 1, "s1", b"bee"), ("b", 1, "s0", b"tie")]
    full = [(n, s, "CM01", b, h, -1, "{}") for n, s, h, b in rows]

    def append(rs):
        (store.one_part_df(spark, rs, store._SKETCH_SCHEMA)
         .write.mode("append").parquet(path + "/sketches"))

    append(full)
    want = {("a", 2, "s2", b"new"), ("b", 1, "s1", b"bee")}
    keys, dup = store.winner_keys(path)
    assert not dup
    assert {(r["name"], r["seq"], r["sha256"])
            for r in keys.to_pylist()} == {w[:3] for w in want}
    df, n = store.winner_rows(spark, path)
    got = {(r["name"], r["seq"], r["sha256"], bytes(r["blob"]))
           for r in df.collect()}
    assert got == want and n == 2

    # exact duplicate: the semi-join alone would keep both copies; the
    # reader flags it and the scan collapses it to ONE row
    append([full[1]])
    keys, dup = store.winner_keys(path)
    assert dup and keys.num_rows == 2
    out = store.winner_rows(spark, path)[0].collect()
    assert sorted(r["name"] for r in out) == ["a", "b"]
    assert store.list_sketches(spark, path).count() == 2


def test_append_fsyncs_file_and_directory(tmp_path, monkeypatch):
    """Every durable append fsyncs the new part before the rename and
    the directory after it — for each store table it writes."""
    import os

    import pandas as pd
    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    synced = []
    real = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (synced.append(
        os.readlink(f"/proc/self/fd/{fd}")), real(fd))[1])
    path = str(tmp_path / "store")
    cm = CountMinSketch(CMConfig(eps=1e-2, delta=0.1, seed=1))
    lin = pd.DataFrame({"pid": [0], "n_rows": [1], "n_items": [1],
                        "total_count": [1], "build_ms": [0.5]})
    store.save_sketch(None, path, "x", cm, lineage=lin)
    assert len(synced) == 4          # sketches part + dir, lineage part + dir
    for table in ("sketches", "lineage"):
        d = os.path.join(path, table)
        assert d in synced
        assert any(p.startswith(d + "/.part-") and p.endswith(".tmp")
                   for p in synced)
    synced.clear()
    from sketchlib.incremental import _MANIFEST_SCHEMA
    store._append_rows(None, path + "/ingested", [("x", 0, "", -1)],
                       _MANIFEST_SCHEMA)
    assert len(synced) == 2
    synced.clear()
    stats = store.compact_store(None, path)
    assert len(synced) == 2 * len(stats) == 6


def test_mixed_writer_parts_read_identically(spark, tmp_path):
    """A store table mixing Spark-written and pyarrow-written parts
    reads the same rows in both engines, and the reader resolves across
    both writers."""
    import hashlib

    import pyarrow.dataset as pds
    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.1, seed=1)
    a, b = CountMinSketch(cfg), CountMinSketch(cfg)
    a.update_batch(np.array([1, 2, 3], dtype=np.int64))
    b.update_batch(np.array([4, 5], dtype=np.int64))
    store.save_sketch(spark, path, "x", a)                      # pyarrow
    row = [("x", 1, "CM01", b.to_bytes(),
            hashlib.sha256(b.to_bytes()).hexdigest(), 7, '{"w": 1}')]
    (store.one_part_df(spark, row, store._SKETCH_SCHEMA)       # Spark
     .write.mode("append").parquet(path + "/sketches"))
    store.save_sketch(spark, path, "y", b)                      # pyarrow

    def norm(rs):
        return sorted((r["name"], r["seq"], r["kind"], bytes(r["blob"]),
                       r["sha256"], r["n_rows"], r["meta_json"])
                      for r in rs)

    by_spark = norm(r.asDict() for r in
                    spark.read.parquet(path + "/sketches").collect())
    by_arrow = norm(pds.dataset(path + "/sketches", format="parquet")
                    .to_table().to_pylist())
    assert by_spark == by_arrow and len(by_spark) == 3
    assert store.load_sketch(spark, path, "x").to_bytes() == b.to_bytes()
    assert store.latest_entry(spark, path, "x") == (1, {"w": 1})
    assert store.save_sketch(spark, path, "x", a) == 2
