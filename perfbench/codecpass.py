"""Codec layer, off Spark, on the workload's own chunks.

The codec kernels run inside executors, where driver-side wrapping
cannot reach them, so this pass reads a frozen output's payloads with
pyarrow and calls ``cryo_spark.codecs`` directly, single-threaded:

- ``decode_any`` on each stored frame;
- ``choose_int`` / ``choose_str`` on the decoded values (the per-chunk
  codec selection);
- ``encode_any`` of the decoded values with the stored codec id.

Selection must pick the stored codec again and re-encoding must
reproduce the stored frame byte for byte; a difference is a failure.
"""

from __future__ import annotations

import collections
import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LIST_COLS = {"tokens"}
STR_COLS = {"doc_id", "source"}


def family(codec_id: str) -> str:
    """``bitpack+zstd|lens=for`` -> ``bitpack`` (the values codec)."""
    return codec_id.split("|")[0].split("+")[0]


def _frames(column: str, payload: bytes) -> list[bytes]:
    """Codec frames inside one column payload: a validity flag byte
    (the sequence columns are never null), then one frame, or for a
    list column a lengths blob and a values blob."""
    from cryo_spark.codecs.bits import get_blob

    buf = memoryview(payload)
    if buf[0] != 0:
        raise ValueError(f"{column}: unexpected null bitmap in payload")
    buf = buf[1:]
    if column not in LIST_COLS:
        return [bytes(buf)]
    lens, pos = get_blob(buf, 0)
    vals, _ = get_blob(buf, pos)
    return [bytes(lens), bytes(vals)]


def run(output_dir: str, n_chunks: int, seed: int) -> dict:
    """Time the codec calls on ``n_chunks`` seeded chunks of the output."""
    from cryo_spark import codecs

    files = sorted(glob.glob(os.path.join(output_dir, "encoded", "run=*",
                                          "*.parquet")))
    cols = ["chunk_id", "column", "codec_id", "status", "payload"]
    t = pa.concat_tables(pq.read_table(f, columns=cols) for f in files)
    t = t.filter(pc.equal(t.column("status"), "ok"))
    keys = np.unique(t.column("chunk_id").to_numpy())
    pick = set(np.random.default_rng(seed).choice(
        keys, size=min(n_chunks, len(keys)), replace=False).tolist())
    ns = collections.defaultdict(lambda: collections.Counter())
    mismatches = 0
    for cid, column, payload in zip(t.column("chunk_id").to_pylist(),
                                    t.column("column").to_pylist(),
                                    t.column("payload").to_pylist()):
        if cid not in pick:
            continue
        for frame in _frames(column, payload):
            t0 = time.perf_counter_ns()
            values = codecs.decode_any(frame)
            t1 = time.perf_counter_ns()
            choose = codecs.choose_str if column in STR_COLS else codecs.choose_int
            choice = choose(values)
            t2 = time.perf_counter_ns()
            stored = frame[5:5 + frame[4]].decode("ascii")
            again = codecs.encode_any(stored, values)
            t3 = time.perf_counter_ns()
            mismatches += (choice.codec_id != stored) + (again != frame)
            c = ns[stored]
            c["values"] += len(values)
            c["decode_ns"] += t1 - t0
            c["select_ns"] += t2 - t1
            c["encode_ns"] += t3 - t2
            c["frames"] += 1
    total = sum(ns.values(), collections.Counter())
    n = max(1, total["values"])
    return {
        "mismatches": mismatches,
        "by_codec": {k: {"frames": v["frames"], "values": v["values"],
                         **{f"{p}_ns_per_value": v[f"{p}_ns"] / max(1, v["values"])
                            for p in ("decode", "select", "encode")}}
                     for k, v in sorted(ns.items())},
        "metrics": {f"codecs.{p}_ns_per_value": total[f"{p}_ns"] / n
                    for p in ("select", "encode", "decode")},
    }
