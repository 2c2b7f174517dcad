"""Seeded benchmark inputs, generated through ``cryo_spark.fixtures`` and
cached under the work dir with a footer-validated atomic publish.

A cache entry is a directory holding the parquet shards plus
``_meta.json`` (expected row count, raw byte size and the parquet+zstd
reference size); it counts as present only when every footer reads and
the row counts add up, so a generator killed mid-write is regenerated,
never reused. Entries are built in a private temp dir and renamed into
place. Only the newest ``KEEP`` entries of each kind are kept.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from host import WORK

CACHE = os.path.join(WORK, "inputs")
BULK_DOCS = 100_000
BULK_SHARDS = 32  # bench.py's sf0.1 input shape
BATCH_DOCS = 1_000
KEEP = 4


def raw_bytes(t: pa.Table) -> int:
    """Uncompressed size of the four sequence columns as the engine
    counts it: values plus one int32 length or offset per row."""
    n = t.num_rows
    toks = pc.sum(t.column("n_tok")).as_py() or 0
    strs = sum(pc.sum(pc.binary_length(t.column(c))).as_py() or 0
               for c in ("doc_id", "source"))
    # tokens: values + lengths; n_tok: values; doc_id, source: utf8 + offsets
    return 4 * toks + 16 * n + strs


def _valid(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_meta.json")) as f:
            meta = json.load(f)
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    except (OSError, ValueError, pa.ArrowException):
        return None
    return meta if files and rows == meta["rows"] else None


def _publish(path: str, build) -> dict:
    """Return the entry's meta, building it with ``build(tmpdir) -> meta``
    unless a valid entry is already in place."""
    meta = _valid(path)
    if meta is not None:
        os.utime(path)
        return meta
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent writer published first
        shutil.rmtree(tmp, ignore_errors=True)
    meta = _valid(path)
    if meta is None:
        raise RuntimeError(f"input cache entry {path} failed validation")
    return meta


def bulk_table(seed: int) -> tuple[str, dict]:
    """The 100k-doc uniform sequences table (32.7M tokens at seed 42)."""
    from cryo_spark import fixtures

    def build(tmp: str) -> dict:
        t = fixtures.generate_sequences(BULK_DOCS, seed=seed)
        step = -(-BULK_DOCS // BULK_SHARDS)
        for i in range(BULK_SHARDS):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(tmp, f"part-{i:05d}.parquet"),
                           compression="snappy", row_group_size=8192)
        ref = fixtures.reference_zstd_bytes(t, os.path.join(tmp, "ref.zstd"))
        os.remove(os.path.join(tmp, "ref.zstd"))
        return {"rows": t.num_rows, "raw_bytes": raw_bytes(t),
                "tokens": int(pc.sum(t.column("n_tok")).as_py()),
                "reference_zstd_bytes": ref}

    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, f"bulk-s{seed}")
    meta = _publish(path, build)
    _evict("bulk-s")
    return path, meta


def batch(seed: int, i: int) -> tuple[str, dict]:
    """Append batch ``i``: 1,000 docs from seed ``seed + i`` whose keys
    start at ``i * 1000``, so batches never share a key."""
    from cryo_spark import fixtures

    def build(tmp: str) -> dict:
        t = fixtures.generate_sequences(BATCH_DOCS, seed=seed + i,
                                        id_offset=i * BATCH_DOCS)
        pq.write_table(t, os.path.join(tmp, "part-00000.parquet"),
                       compression="snappy", row_group_size=8192)
        return {"rows": t.num_rows, "raw_bytes": raw_bytes(t),
                "tokens": int(pc.sum(t.column("n_tok")).as_py())}

    group = os.path.join(CACHE, f"batches-s{seed}")
    os.makedirs(group, exist_ok=True)
    os.utime(group)
    meta = _publish(os.path.join(group, f"b{i:03d}"), build)
    _evict("batches-s")
    return os.path.join(group, f"b{i:03d}"), meta


def digests(paths: list[str], compute) -> list[tuple]:
    """Each entry's content digest; the ones not cached yet come from
    one ``compute(paths) -> {path: digest}`` call."""
    def cached(p):
        try:
            with open(os.path.join(p, "_digest.json")) as fh:
                return tuple(json.load(fh))
        except (OSError, ValueError):
            return None

    out = {p: cached(p) for p in paths}
    missing = [p for p, d in out.items() if d is None]
    if missing:
        for p, d in compute(missing).items():
            tmp = os.path.join(p, f"_digest.json.tmp{os.getpid()}")
            with open(tmp, "w") as fh:
                json.dump(list(d), fh)
            os.replace(tmp, os.path.join(p, "_digest.json"))
            out[p] = d
    return [out[p] for p in paths]


def _evict(prefix: str) -> None:
    entries = sorted((p for p in glob.glob(os.path.join(CACHE, prefix + "*"))
                      if ".tmp" not in p),
                     key=os.path.getmtime, reverse=True)
    for old in entries[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
