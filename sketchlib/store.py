"""Durable store for FINAL sketches — build once, probe in any later session.

A build over the full table is the expensive artifact (at 10^12 sequences
it is hours of cluster time); the sketch itself is KBs. The store persists
named sketches of ANY sketchlib type (magic-dispatched — serde.loads) as a
plain parquet TABLE, so it is listable/joinable from Spark, DuckDB or
pyarrow, travels on any Hadoop-compatible filesystem path, and keeps the
byte-identity contract: ``load_sketch(save_sketch(s)) .to_bytes() ==
s.to_bytes()`` exactly.

Layout under ``<path>/``:

- ``sketches/``  parquet rows ``(name, seq, kind, blob, sha256, n_rows,
  meta_json)`` — append-only; a re-save of ``name`` appends a higher
  ``seq`` (object-store friendly: no read-modify-write of existing files).
- ``lineage/``   parquet rows ``(name, seq, pid, n_rows, n_items,
  total_count, build_ms)`` — the per-partition build lineage of each
  saved sketch, queryable for audit ("which slice contributed what").
- ``ingested/``  the incremental manifest ``(name, seq, file,
  file_size)`` (see incremental.py); rows with ``file == ""`` are commit
  markers whose ``file_size`` carries the lineage's base epoch.

ONE reader serves every consumer — driver verbs, incremental maintenance
and the SQL functions, which run inside Python workers with no
SparkSession. It reads the store's parquet parts with pyarrow (pruning
row groups by their min/max stats) and owns the store's two rules:

- winner: per name, the row with the highest ``(seq, sha256)`` (the sha
  breaks same-seq writer races deterministically; exact-duplicate rows
  collapse to one), optionally pinned to one seq or bounded to a
  ``[min_seq, max_seq]`` window;
- epoch: a maintenance lineage's committed state is its highest commit
  marker (or the marker at a pinned seq) — ``(epoch, base)``; rows above
  the epoch are crashed-publish orphans, rows below the base predate the
  last rebuild.

Reads run in two phases: the column-pruned ``(name, seq, sha256)`` rows
pick the winners, then only the winning rows' payload is read, and only
winners are sha-verified — a corrupt superseded row never fails a read.
Single-winner reads go through one fingerprint-keyed cache (store listing
→ verified bytes + meta); callers always deserialize their own copy.
Only "path does not exist" reads as an empty store; every other read
error surfaces. Consumers that are themselves distributed (fleet merges
and scans, listings) scan blobs with Spark, keeping exactly the reader's
winner keys by a broadcast semi-join.

Local stores are written with pyarrow (one durable part per append);
remote filesystems keep a one-partition Spark write, and are read through
``pyarrow.fs.FileSystem.from_uri``.

Checkpoints (spark_build.checkpoint_dir) are the RESUME mechanism for
in-flight builds — partial blobs keyed by slice. The store is the
PUBLISH mechanism for finished ones; they intentionally do not share a
format.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import serde

_SKETCH_SCHEMA = ("name string, seq long, kind string, blob binary, "
                  "sha256 string, n_rows long, meta_json string")
_LINEAGE_SCHEMA = ("name string, seq long, pid long, n_rows long, "
                   "n_items long, total_count long, build_ms double")
_KEYS_SCHEMA = "name string, seq long, sha256 string"
_ARROW_TYPES = {"string": pa.string(), "long": pa.int64(),
                "binary": pa.binary(), "double": pa.float64()}
# the winner order: highest seq first, sha256 breaking same-seq ties
_WINNER_ORDER = [("seq", "descending"), ("sha256", "descending")]


def one_part_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` with exactly ONE partition.

    ``spark.createDataFrame(rows, ...)`` slices the rows across
    defaultParallelism Python partitions (mostly empty for a few rows);
    ``.coalesce(1)`` on that evaluates every slice SEQUENTIALLY inside a
    single task — one Python-worker round-trip each, measured ~7 s per
    single-row store write at local[32]. Parallelizing to one slice up
    front writes the same one file ~10x faster."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema)


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """A Spark DataFrame over a store directory, or None when it doesn't
    exist yet. Existence is checked on the filesystem, so only "path
    does not exist" maps to None; any other read failure surfaces."""
    return spark.read.parquet(path) if _exists(path) else None


# -- durable appends ---------------------------------------------------------

def _local_dir(path: str) -> str | None:
    """Filesystem directory for a local store path (no scheme, or
    file:); None for remote filesystems, which keep the Spark write."""
    if path.startswith("file://"):
        return path[len("file://"):] or "/"
    if path.startswith("file:"):
        return path[len("file:"):] or "/"
    if "://" in path:
        return None
    return path


def _arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in
                      (c.split() for c in ddl.split(","))])


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _append_parquet(dirpath: str, tbl: pa.Table) -> None:
    """Append ``tbl`` to a local store table as ONE new parquet part,
    durably: write a dot-prefixed ``.tmp`` (Spark and pyarrow skip dot
    files), fsync it, rename it into place, then fsync the directory. A
    crash leaves the old file set or the new one, never a torn part, and
    a later unlink (compaction) cannot reach disk before the new part.

    Rows are sorted by (name, seq) and written in row groups sized by
    BYTES (~24 MB each, clamped to [16, 4096] rows): parquet keeps
    min/max stats per row group, so a targeted read (``name ==
    prefix/<group>`` / ``isin``) prunes to the row group holding that
    name instead of decompressing the whole part's blob column —
    measured 11.6 s → 2.5 s on a one-file delta fold against a 256 × 1
    MB-blob part. Sizing by bytes, not a fixed row count, keeps BOTH
    payload regimes healthy: MB-scale blobs (file indexes) get ~24-row
    groups for fine pruning, while a 10^5-row fleet of KB blobs gets
    ~4096-row groups — a fixed 64 would mean 1500+ row groups per part,
    and the per-row-group footer metadata then slows EVERY store read
    (measured 1.5 s → 8.4 s single-group reads at G=100k)."""
    os.makedirs(dirpath, exist_ok=True)
    tbl = tbl.sort_by([("name", "ascending"), ("seq", "ascending")])
    row_bytes = max(1, tbl.nbytes // max(1, tbl.num_rows))
    rg_rows = max(16, min(4096, (24 << 20) // row_bytes))
    final = os.path.join(dirpath,
                         f"part-{uuid.uuid4().hex}-pya.snappy.parquet")
    tmp = os.path.join(dirpath, f".{os.path.basename(final)}.tmp")
    pq.write_table(tbl, tmp, compression="snappy", row_group_size=rg_rows)
    _fsync(tmp)
    os.replace(tmp, final)
    _fsync(dirpath)


def _append_rows(spark: SparkSession, path: str, rows: list[tuple],
                 ddl: str) -> None:
    """Append driver-side ``rows`` (schema ``ddl``) to the store table at
    ``path``. Local stores take the durable pyarrow append — the rows are
    already driver-side bytes, and a Spark job per publish costs ~1-2 s
    of pickling and scheduling (a 64-group × 1.1 MB fleet publish: ~30 s
    vs <1 s). Remote filesystems keep the one-partition Spark write."""
    local = _local_dir(path)
    if local is None:
        one_part_df(spark, rows, ddl).write.mode("append").parquet(path)
        return
    schema = _arrow_schema(ddl)
    _append_parquet(local, pa.table(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), schema)],
        schema=schema))


def _sketch_row(name: str, seq: int, sketch, n_rows: int,
                meta: dict | None) -> tuple:
    blob = sketch.to_bytes()
    return (name, int(seq), bytes(blob[:4]).decode("ascii", "replace"),
            blob, hashlib.sha256(blob).hexdigest(), int(n_rows),
            json.dumps(meta or {}, sort_keys=True))


def save_sketch(spark: SparkSession, path: str, name: str, sketch, *,
                lineage=None, n_rows: int = -1, meta: dict | None = None,
                seq: int | None = None) -> int:
    """Persist ``sketch`` under ``name``; returns the assigned seq.

    Concurrency contract: ONE writer per name. ``seq`` is assigned by a
    read-then-append, so two simultaneous writers of the same name can
    both claim the same seq; loads still resolve deterministically —
    ties break on blob sha256 (content-addressed, see ``load_sketch``) —
    but one of the two writes is shadowed. Different names never
    interfere (appends are independent files).

    ``lineage`` is an optional pandas DataFrame with columns
    (pid, n_rows, n_items, total_count, build_ms) — pass
    ``BuildResult.lineage`` to keep the per-partition audit trail with
    the published sketch.

    ``seq`` pins the sequence number explicitly (callers that must know
    it before the write, e.g. incremental.py's manifest_base meta);
    default is the usual read-then-append assignment. Same single-writer
    contract either way.
    """
    if seq is None:
        last = read_winner(path, name, blob=False)
        seq = 0 if last is None else last["seq"] + 1
    _append_rows(spark, path + "/sketches",
                 [_sketch_row(name, seq, sketch, n_rows, meta)],
                 _SKETCH_SCHEMA)
    if lineage is not None and len(lineage):
        lrows = [(name, seq, int(r["pid"]), int(r["n_rows"]),
                  int(r["n_items"]), int(r["total_count"]),
                  float(r["build_ms"])) for _, r in lineage.iterrows()]
        _append_rows(spark, path + "/lineage", lrows, _LINEAGE_SCHEMA)
    return seq


def save_sketches_bulk(spark: SparkSession, path: str,
                       entries: list[tuple[str, int, object, int]],
                       meta: dict | None = None) -> None:
    """Append many ``(name, seq, sketch, n_rows)`` rows in ONE parquet
    write — the grouped-publish path, where per-group save_sketch calls
    would cost one append per group. Same row format and integrity
    contract as save_sketch; no lineage rows (grouped builds carry their
    audit trail in the caller's manifest meta). Driver memory holds all
    blobs at once — bounded by (groups touched × blob size), the same
    fan-in the grouped build's collect already paid."""
    rows = [_sketch_row(name, seq, sketch, n_rows, meta)
            for name, seq, sketch, n_rows in entries]
    if rows:
        _append_rows(spark, path + "/sketches", rows, _SKETCH_SCHEMA)


def compact_store(spark: SparkSession, path: str) -> dict[str, dict]:
    """Merge each store table's many small append files into ONE file.

    Every publish appends a file, so a daily-publish store accumulates
    365 files/year per table — harmless for correctness (loads pick
    winning rows) but a listing/open cost on every read. Compaction
    rewrites sketches/, lineage/ and ingested/ each into a single part
    written by the durable append (same (name, seq) sort and byte-sized
    row groups, so point reads still prune), PRESERVING every row:
    history is a feature (snapshot_diff needs old seqs; the manifest's
    current lineage drives incremental diffs), so nothing is pruned —
    only exact duplicate rows (left by a crashed prior compaction) are
    dropped.

    Never-missing by construction: the compacted part is written (and
    fsynced with its directory entry) INTO the live directory first,
    then ONLY the part files it actually read are removed — a FRESH read
    at any instant sees the old snapshot, old+new (duplicate rows, which
    winning-row selection tolerates), or just the new file; the
    directory itself is never renamed so the store never appears
    missing/empty mid-compact. A part file appended by a racing publish
    (a contract violation — see below) is NOT deleted, so its rows
    survive even then. Two caveats: a reader holding a PLAN or cache
    whose file listing predates the compaction can hit
    FileNotFoundException on the removed parts (re-read, or
    spark.catalog.clearCache(), after compacting); and a crash
    mid-removal leaves duplicates that the next compaction cleans.

    Driver-side rewrite via pyarrow (the store is KB-MB scale by
    design); requires a local/posix path (object stores would go through
    their own compaction). Single-writer contract as everywhere in the
    store: don't compact concurrently with a publish. Returns {table:
    {files_before, files_after, rows, dupes_dropped}}.
    """
    stats: dict[str, dict] = {}
    for table in ("sketches", "lineage", "ingested"):
        d = os.path.join(path, table)
        if not os.path.isdir(d):
            continue
        parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        if not parts:
            continue
        t = pa.concat_tables(
            [pq.ParquetFile(os.path.join(d, p)).read() for p in parts],
            promote_options="permissive")
        pdf = t.to_pandas()
        before = len(pdf)
        pdf = pdf.drop_duplicates()     # only crash-left exact dupes
        _append_parquet(d, pa.Table.from_pandas(pdf, schema=t.schema,
                                                preserve_index=False))
        # delete exactly the snapshot we read (plus spark's write markers
        # and checksum companions) — never a file that appeared since
        for p in parts:
            for f in (p, f".{p}.crc"):
                full = os.path.join(d, f)
                if os.path.isfile(full):
                    os.remove(full)
        for f in ("_SUCCESS", "._SUCCESS.crc"):
            full = os.path.join(d, f)
            if os.path.isfile(full):
                os.remove(full)
        stats[table] = {"files_before": len(parts), "files_after": 1,
                        "rows": len(pdf), "dupes_dropped": before - len(pdf)}
    return stats


# -- the reader ----------------------------------------------------------------

# (table path, name, prefix, seq, min_seq, max_seq) -> (store listing
# fingerprint, winner row with verified blob or None). FIFO-capped so
# long sessions with many entries don't pin old blobs.
_CACHE: dict[tuple, tuple] = {}
_CACHE_MAX = 64


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    local = _local_dir(path)
    if local is not None:
        return pafs.LocalFileSystem(), os.path.abspath(local)
    return pafs.FileSystem.from_uri(path)


def _exists(path: str) -> bool:
    fs, p = _filesystem(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def _fingerprint(path: str) -> tuple:
    """(file, size, mtime) listing of a store table: any publish or
    compaction changes it."""
    fs, p = _filesystem(path)
    infos = fs.get_file_info(pafs.FileSelector(p, recursive=True,
                                               allow_not_found=True))
    return tuple(sorted((i.path, i.size, i.mtime_ns) for i in infos
                        if i.type == pafs.FileType.File))


def _scan(path: str, columns: list[str], *, names=None,
          prefix: str | None = None, lo: int | None = None,
          hi: int | None = None, shas=None,
          markers: bool = False) -> pa.Table | None:
    """The ``columns`` of one store table's rows matching every given
    condition: ``name`` in ``names`` or under ``prefix/``, ``lo <= seq <=
    hi``, ``sha256`` in ``shas``, commit markers (``file == ""``) only.
    None when the table does not exist or holds no data file yet.

    Row groups whose min/max stats rule the name or seq condition out
    are never read. Each part is read on the calling thread with
    pyarrow.parquet alone: the dataset layer's read-ahead threads (and
    importing it at all, which defers pyarrow's allocator purges) cost
    the driver tens of MB of resident memory for these KB-scale reads."""
    if names is not None:
        names = _strings(names).sort()
    if prefix is not None:
        nlo, nhi = prefix + "/", prefix + "0"
    elif names is not None and len(names):
        nlo, nhi = names[0].as_py(), names[-1].as_py()
    else:
        nlo = nhi = None
    fs, root = _filesystem(path)
    infos = fs.get_file_info(pafs.FileSelector(root, recursive=True,
                                               allow_not_found=True))
    out, schema = [], None
    for info in sorted(infos, key=lambda i: i.path):
        rel = os.path.relpath(info.path, root).split(os.sep)
        if (info.type != pafs.FileType.File
                or any(c.startswith((".", "_")) for c in rel)):
            continue
        pf = pq.ParquetFile(fs.open_input_file(info.path))
        schema = pf.schema_arrow
        keys = [c for c in ("name", "seq", "sha256", "file")
                if c in schema.names]
        rgs = [i for i in range(pf.num_row_groups)
               if _may_match(pf.metadata.row_group(i), schema,
                             (("name", nlo, nhi), ("seq", lo, hi)))]
        if not rgs:
            continue
        t = pf.read_row_groups(rgs, columns=list(dict.fromkeys(
            columns + keys)), use_threads=False)
        conds = []
        if names is not None:
            conds.append(pc.is_in(t["name"], value_set=names))
        if prefix is not None:
            conds.append(pc.starts_with(t["name"], prefix + "/"))
        if lo is not None:
            conds.append(pc.greater_equal(t["seq"], int(lo)))
        if hi is not None:
            conds.append(pc.less_equal(t["seq"], int(hi)))
        if shas is not None:
            conds.append(pc.is_in(t["sha256"], value_set=_strings(shas)))
        if markers:
            conds.append(pc.equal(t["file"], ""))
        if conds:
            t = t.filter(functools.reduce(pc.and_, conds))
        out.append(t.select(columns).replace_schema_metadata(None))
    if schema is None:
        return None
    if not out:
        return pa.schema([schema.field(c) for c in columns]).empty_table()
    return pa.concat_tables(out, promote_options="permissive")


def _strings(v) -> pa.Array:
    """Distinct values of a list or Arrow column, as one string array."""
    return pc.unique(v if isinstance(v, (pa.Array, pa.ChunkedArray))
                     else pa.array(list(v), pa.string()))


def _may_match(rg, schema: pa.Schema, bounds) -> bool:
    """False when a row group's min/max stats exclude a (column, lo, hi)
    bound; True whenever the stats can't tell."""
    for col, lo, hi in bounds:
        if (lo is None and hi is None) or col not in schema.names:
            continue
        st = rg.column(schema.get_field_index(col)).statistics
        if st is None or not st.has_min_max:
            continue
        mn, mx = (v.decode() if isinstance(v, bytes) else v
                  for v in (st.min, st.max))
        if (lo is not None and mx < lo) or (hi is not None and mn > hi):
            return False
    return True


def _winner_keys(t: pa.Table) -> tuple[pa.Table, bool]:
    """THE winner rule: one row per name, its highest (seq, sha256).
    The flag reports an exact-duplicate pair (same name, seq AND sha256
    — two writers racing to publish byte-identical content), which a
    semi-join on the keys would keep twice."""
    t = t.sort_by([("name", "ascending")] + _WINNER_ORDER)
    if t.num_rows < 2:
        return t, False
    same = [pc.equal(t[c][1:], t[c][:-1])
            for c in ("name", "seq", "sha256")]
    first = pa.chunked_array([[True]] + pc.invert(same[0]).chunks)
    dup = pc.any(pc.and_(pc.and_(same[0], same[1]), same[2])).as_py()
    return t.filter(first), bool(dup)


def _verified(name: str, seq: int, sha256: str, blob: bytes) -> bytes:
    digest = hashlib.sha256(blob).hexdigest()
    if digest != sha256:
        raise IOError(f"sketch {name!r} seq {seq} corrupt: sha "
                      f"{digest[:16]} != recorded {sha256[:16]}")
    return blob


def read_winner(path: str, name: str | None = None, *,
                prefix: str | None = None, seq: int | None = None,
                min_seq: int | None = None, max_seq: int | None = None,
                blob: bool = True) -> dict | None:
    """The winning row of ``name`` — or, with ``prefix``, the top
    winner among every ``prefix/<group>`` name (the fleet's latest
    publish) — pinned to ``seq`` or bounded to ``min_seq <= seq <=
    max_seq``. Returns ``{"name", "seq", "sha256", "meta", "blob"}``
    with the blob sha-verified (None when ``blob=False``), or None when
    no row matches.

    Two phases: the pruned (name, seq, sha256) rows pick the winner,
    then meta and blob are read for that ONE row only — a one-phase
    read would decompress every historical blob of the name. Results
    are cached per store listing, so repeated reads of an unchanged
    store cost one directory listing."""
    table = path + "/sketches"
    fp = _fingerprint(table)
    key = (table, name, prefix, seq, min_seq, max_seq)
    hit = _CACHE.get(key)
    if hit is not None and hit[0] == fp and (hit[1]["blob"] is not None
                                             or not blob):
        row = hit[1]
    else:
        lo, hi = (seq, seq) if seq is not None else (min_seq, max_seq)
        keys = _scan(table, ["name", "seq", "sha256"],
                     names=None if name is None else [name],
                     prefix=prefix, lo=lo, hi=hi)
        if keys is None or not keys.num_rows:
            return None
        win = (_winner_keys(keys)[0].sort_by(_WINNER_ORDER)
               .slice(0, 1).to_pylist()[0])
        got = _scan(table, ["meta_json", "blob"] if blob else ["meta_json"],
                    names=[win["name"]], lo=win["seq"], hi=win["seq"],
                    shas=[win["sha256"]])
        got = got.slice(0, 1).to_pylist()[0]
        row = {**win, "meta_json": got["meta_json"],
               "blob": _verified(win["name"], win["seq"], win["sha256"],
                                 got["blob"]) if blob else None}
        while len(_CACHE) >= _CACHE_MAX:
            # default=None: concurrent driver threads may evict the same
            # oldest key; a bare pop would KeyError on the loser
            _CACHE.pop(next(iter(_CACHE)), None)
        _CACHE[key] = (fp, row)
    return {"name": row["name"], "seq": int(row["seq"]),
            "sha256": row["sha256"], "meta": json.loads(row["meta_json"]),
            "blob": row["blob"]}


def winner_keys(path: str, prefix: str | None = None, *,
                min_seq: int | None = None, max_seq: int | None = None,
                groups: list[str] | None = None) -> tuple[pa.Table, bool]:
    """(name, seq, sha256) of every winner among the ``prefix/<group>``
    names (every name when ``prefix`` is None; only ``groups`` when
    given) within [min_seq, max_seq], plus the exact-duplicate flag of
    the winner rule. Empty when the store doesn't exist."""
    t = _scan(path + "/sketches", ["name", "seq", "sha256"],
              names=None if groups is None else
              [f"{prefix}/{g}" for g in groups],
              prefix=prefix, lo=min_seq, hi=max_seq)
    if t is None:
        return _arrow_schema(_KEYS_SCHEMA).empty_table(), False
    return _winner_keys(t)


def _read_blobs(path: str, keys: pa.Table) -> dict[str, bytes]:
    """{name: verified blob} of the given winner keys — the second phase
    of a fleet read: only rows matching a key's name, seq and sha256 are
    kept, and only they are hashed."""
    if not keys.num_rows:
        return {}
    t = _scan(path + "/sketches", ["name", "seq", "sha256", "blob"],
              names=keys["name"], lo=pc.min(keys["seq"]).as_py(),
              hi=pc.max(keys["seq"]).as_py(), shas=keys["sha256"])
    want = set(zip(*(keys[c].to_pylist() for c in ("name", "seq",
                                                    "sha256"))))
    return {r["name"]: _verified(r["name"], r["seq"], r["sha256"],
                                 r["blob"])
            for r in t.to_pylist()
            if (r["name"], r["seq"], r["sha256"]) in want}


def read_epoch(path: str, name: str,
               seq: int | None = None) -> tuple[int, int] | None:
    """(epoch, base) of a maintenance lineage from its commit markers
    (manifest rows with ``file == ""``, whose file_size carries the
    lineage's base epoch; global-path markers write -1, read as 0): the
    highest marker is the committed epoch, or — with ``seq`` — the marker
    at that seq. None when nothing (or not ``seq``) was committed."""
    t = _scan(path + "/ingested", ["seq", "file_size"], names=[name],
              lo=seq, hi=seq, markers=True)
    if t is None or not t.num_rows:
        return None
    epoch, base = max(zip(t["seq"].to_pylist(), t["file_size"].to_pylist()))
    return int(epoch), max(int(base), 0)


def read_manifest(path: str, name: str, *, min_seq: int = 0,
                  max_seq: int | None = None
                  ) -> tuple[int | None, dict[str, int]]:
    """(highest seq, {relative file: size}) over ``name``'s manifest rows
    with ``min_seq <= seq <= max_seq``; commit markers count for the
    seq, never the files. (None, {}) when no row matches."""
    t = _scan(path + "/ingested", ["seq", "file", "file_size"],
              names=[name], lo=min_seq, hi=max_seq)
    if t is None or not t.num_rows:
        return None, {}
    rows = t.to_pylist()
    return (max(int(r["seq"]) for r in rows),
            {r["file"]: int(r["file_size"]) for r in rows if r["file"]})


def winner_rows(spark: SparkSession, path: str, prefix: str | None = None,
                *, min_seq: int | None = None,
                max_seq: int | None = None) -> tuple[DataFrame, int]:
    """(lazy DataFrame of the winning store rows, their count) — the
    Spark blob scan for consumers that are themselves distributed. The
    reader picks the winner keys; the scan keeps exactly those rows by a
    broadcast semi-join, so blobs stream from parquet into the consumer
    without a shuffle. When the reader saw an exact duplicate, the
    identical survivors collapse by ``dropDuplicates(["name"])``."""
    keys, dup = winner_keys(path, prefix, min_seq=min_seq, max_seq=max_seq)
    # the schema is known: inferring it would cost a Spark job
    df = spark.read.schema(_SKETCH_SCHEMA).parquet(path + "/sketches")
    if prefix is not None:
        df = df.filter(F.col("name").startswith(prefix + "/"))
    df = df.join(F.broadcast(spark.createDataFrame(
        keys, schema=_KEYS_SCHEMA)), ["name", "seq", "sha256"], "left_semi")
    return (df.dropDuplicates(["name"]) if dup else df), keys.num_rows


# -- loaders ------------------------------------------------------------------

def load_sketch(spark: SparkSession, path: str, name: str,
                seq: int | None = None):
    """Load a sketch by name (latest seq unless pinned); integrity-checked."""
    got = latest_sketch(spark, path, name, seq=seq)
    if got is None:
        raise KeyError(f"no sketch named {name!r}"
                       + (f" at seq {seq}" if seq is not None else ""))
    return got[2]


def latest_entry(spark: SparkSession, path: str,
                 name: str) -> tuple[int, dict] | None:
    """(seq, meta) of the latest saved version of ``name``; None when the
    store or the name doesn't exist yet. No blob is read. Used by
    streaming late-data folds to make load-merge-save idempotent across
    foreachBatch replays (the meta carries the folding batch_id) — any
    read failure other than "store does not exist" surfaces, since
    mapping it to None would bypass that replay guard."""
    row = read_winner(path, name, blob=False)
    return None if row is None else (row["seq"], row["meta"])


def latest_sketch(spark: SparkSession, path: str, name: str,
                  seq: int | None = None) -> tuple[int, dict, object] | None:
    """(seq, meta, sketch) of the latest saved version of ``name`` (or
    the pinned ``seq``) in one store read; None when the store, the
    name, or the pinned seq doesn't exist. The sketch is the caller's
    own deserialized copy — incremental maintenance merges into it."""
    row = read_winner(path, name, seq=seq)
    if row is None:
        return None
    return row["seq"], row["meta"], serde.loads(row["blob"])


def max_seq_for_prefix(spark: SparkSession, path: str,
                       prefix: str) -> int | None:
    """Highest seq over every name of the form ``prefix/<group>``, or
    None when the store/prefix doesn't exist. INCLUDES uncommitted
    orphan rows from crashed grouped epochs — grouped maintenance uses
    this to publish retries at a fresh seq strictly above any orphan, so
    a retry folding a bigger delta can never tie (and sha-coin-flip)
    with the crashed attempt's rows."""
    row = read_winner(path, prefix=prefix, blob=False)
    return None if row is None else row["seq"]


def load_group_sketches(spark: SparkSession, path: str, prefix: str,
                        max_seq: int | None = None,
                        min_seq: int | None = None,
                        groups: list[str] | None = None) -> dict[str, object]:
    """{group: sketch} for every name of the form ``prefix/<group>``:
    each group's winner, optionally bounded to ``min_seq <= seq <=
    max_seq`` — max_seq is the committed-epoch pin that ignores orphan
    publishes from a crashed, uncommitted epoch; min_seq is the last
    full-rebuild epoch, below which rows describe a table state that no
    longer exists. Groups republish only when touched, so a group's
    latest seq is typically BELOW the current epoch. ``groups``
    restricts the read to those group values — the incremental path
    loads only the delta's groups, never the whole fleet. Exactly one
    blob per group is read and verified."""
    keys, _ = winner_keys(path, prefix, min_seq=min_seq, max_seq=max_seq,
                          groups=groups)
    plen = len(prefix) + 1
    return {nm[plen:]: serde.loads(b)
            for nm, b in _read_blobs(path, keys).items()}


def list_sketches(spark: SparkSession, path: str) -> DataFrame:
    """EXACTLY one row per name — its winning version, the same winner
    every loader returns (a plain max-seq join would emit two rows per
    name after a same-seq writer race or a crash-left duplicate)."""
    df, _ = winner_rows(spark, path)
    return df.select("name", "seq", "kind", F.length("blob").alias("bytes"),
                     "sha256", "n_rows", "meta_json")


def load_lineage(spark: SparkSession, path: str, name: str,
                 seq: int | None = None) -> DataFrame:
    """Per-partition build lineage of a saved sketch (latest unless pinned)."""
    t = _scan(path + "/lineage",
              [c.split()[0] for c in _LINEAGE_SCHEMA.split(",")],
              names=[name], lo=seq, hi=seq)
    if t is None:
        raise FileNotFoundError(f"no lineage table under {path}")
    if seq is None and t.num_rows:
        t = t.filter(pc.equal(t["seq"], pc.max(t["seq"])))
    return spark.createDataFrame(t, schema=_LINEAGE_SCHEMA)
