"""The two workloads, one closed-loop client each.

Both cycles write with ``freeze``, re-``freeze`` the same input as a
no-op resume and fully decode the output, so the metrics of those calls
are measured on both. Once per run, between its cycles, each workload
runs a tail of the calls its shape stresses:

- ``bulk_freeze``: each cycle freezes the whole 100k-doc table into a
  fresh output (scan, plan, shuffle, codec encode, parquet write and
  commit at full size), then resumes and decodes it; the tail reads
  the latest output back three more ways: a projected decode, a 20-key
  lookup and a filtered read (file scan, row-group selection,
  manifest/bloom/zone-map pruning).
- ``append_maintain``: each cycle makes two 1,000-doc appends into a
  fresh output, each its own freeze and commit followed by a no-op
  resume, so per-job fixed cost dominates; then decodes it twice. The
  tail compacts the latest output's small chunks, vacuums, verifies and
  decodes it.

Every cycle writes into a fresh output, so its calls see the same state
however many cycles came before: a faster engine fits more cycles into
a run without changing what each one measures. Set-up makes each kind
of call once before timing starts, as a session's first calls pay JIT
and Python-worker start-up.

Results are checked outside the timed calls: every freeze summary and
no-op resume, every full decode's checksum against the input's, the
projected read's per-source totals, every lookup and filtered read row
for row against pyarrow over the generated input, and every
compact/vacuum/verify result.
"""

from __future__ import annotations

import glob
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs

TARGET_TOKENS = 1 << 19  # bench.py's chunk size: seed-42 bytes stay comparable
SEED42_ENC_BYTES = 41_020_710
PROJECTION = ["n_tok", "source"]
FILTER = [("n_tok", ">", 3000)]
LOOKUP_KEYS = 20
APPENDS_PER_CYCLE = 2
BATCH_CYCLES = 8  # cycles' worth of append batches generated per Spark job
CODEC_PASS_CHUNKS = 8
# phases whose calls are measured: the timed cycles and the tail
MEASURED = ("measure", "tail")


class Failed(Exception):
    """An engine call raised or returned a wrong result."""


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Equal rows regardless of order (doc_id is the key)."""
    if got.num_rows != want.num_rows:
        return False
    cols = [c for c in want.column_names if c in got.column_names]
    got = got.select(cols).sort_by("doc_id")
    want = want.select(cols).sort_by("doc_id")
    return all(got.column(c).combine_chunks().equals(
        want.column(c).combine_chunks().cast(got.schema.field(c).type))
        for c in cols)


def _digest_aggs():
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)), F.sum("n_tok"),
            F.sum(F.xxhash64("doc_id", "tokens", "n_tok", "source")
                  .cast("decimal(38,0)"))]


def digest(df) -> tuple:
    """(rows, tokens, sum of per-row xxhash64 over all four columns)."""
    return tuple(int(x or 0) for x in df.agg(*_digest_aggs()).first())


def dir_digests(spark, dirs: list[str]) -> dict[str, tuple]:
    """:func:`digest` of each parquet directory, in one Spark job read by
    Spark's own parquet reader (digests add up across files)."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    rows = (spark.read.parquet(*dirs).groupBy(F.input_file_name())
            .agg(*_digest_aggs()).collect())
    out = {d: (0, 0, 0) for d in dirs}
    for r in rows:
        d = os.path.dirname(urlparse(r[0]).path)
        out[d] = tuple(a + int(b or 0) for a, b in zip(out[d], r[1:]))
    return out


class Workload:
    """Shared cycle machinery; subclasses define setup and the cycle."""

    def __init__(self, spark, tracer, run, seed: int):
        from cryo_spark import engine

        self.engine = engine
        self.spark = spark
        self.tracer = tracer
        self.run = run
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.calls: list[dict] = []
        self.cycle_walls: list[float] = []
        self.problems: list[str] = []
        self.freezes: list[dict] = []   # data-writing freeze summaries
        self.compacts: list[dict] = []
        self.vacuums: list[dict] = []
        self.stored_ratios: list[float] = []

    # -- one measured engine call -------------------------------------
    def call(self, op: str, fn, check=None):
        """Time ``fn()`` as a root span, then run ``check(result)``
        outside the timed region; it returns the rows the call produced
        or raises/returns False on a wrong result."""
        try:
            with self.tracer.span(op) as rec:
                out = fn()
        except Exception as e:
            self._fail(op, f"raised {type(e).__name__}: {e}")
        rows = 0
        if check is not None:
            try:
                rows = check(out)
            except Exception as e:
                rows = False
                self.problems.append(f"{op}: check raised {e!r}")
            if rows is False:
                self._fail(op, "wrong result")
        self.calls.append({"op": op, "span": rec["id"], "wall": rec["dur"],
                           "rows": int(rows or 0), "phase": rec["phase"]})
        return out

    def _fail(self, op: str, why: str):
        self.calls.append({"op": op, "failed": True, "phase": self.tracer.phase})
        self.problems.append(f"{op}: {why}")
        raise Failed(f"{op}: {why}")

    def measured(self, op: str) -> list[dict]:
        return [c for c in self.calls
                if c["op"] == op and c["phase"] in MEASURED and not c.get("failed")]

    def walls(self, op: str) -> list[float]:
        return [c["wall"] for c in self.measured(op)]

    # -- calls shared by both workloads --------------------------------
    def freeze_problem(self, s: dict, meta: dict) -> str | None:
        """Why a data-writing freeze summary is wrong, or None."""
        if s["n_failed"] or s["n_encoded"] != s["n_chunks"]:
            return f"{s['n_failed']} failed of {s['n_chunks']} chunks"
        if (s["tokens"], s["raw_bytes"]) != (meta["tokens"], meta["raw_bytes"]):
            return (f"tokens/raw_bytes {s['tokens']}/{s['raw_bytes']} != "
                    f"input {meta['tokens']}/{meta['raw_bytes']}")
        return None

    def freeze(self, src: str, out: str, meta: dict) -> dict:
        def check(s):
            why = self.freeze_problem(s, meta)
            if why:
                self.problems.append(f"freeze: {why}")
            return False if why else meta["rows"]

        s = self.call("freeze", lambda: self.engine.freeze(
            self.spark, src, out, target_tokens=TARGET_TOKENS), check)
        s.update(wall=self.calls[-1]["wall"], phase=self.calls[-1]["phase"],
                 out=out)
        self.freezes.append(s)
        return s

    def refreeze(self, src: str, out: str) -> None:
        self.call("refreeze", lambda: self.engine.freeze(
            self.spark, src, out, target_tokens=TARGET_TOKENS),
            lambda s: s["n_encoded"] == 0 and s["n_skipped"] == s["n_chunks"]
            and s["n_chunks"] > 0)

    def decode(self, out: str, want_digest: tuple) -> None:
        # the full decode is consumed by a checksum aggregate, so every
        # call is checked against the input's digest
        self.call("decode", lambda: digest(self.engine.decode_frozen(
            self.spark, out)), lambda d: d == want_digest and d[0])
        self.calls[-1]["tokens"] = want_digest[1]

    def reads(self, out: str, want: pa.Table) -> None:
        e, spark = self.engine, self.spark

        def projected(t):
            by_src = lambda x: dict(zip(*[c.to_pylist() for c in
                                          x.group_by("source").aggregate(
                                              [("n_tok", "sum")]).columns]))
            return t.num_rows if (t.num_rows == want.num_rows
                                  and by_src(t) == by_src(want)) else False

        self.call("decode_projected", lambda: e.decode_frozen(
            spark, out, columns=PROJECTION).toArrow(), projected)
        off = int(self.rng.integers(0, want.num_rows - LOOKUP_KEYS + 1))
        self.call("lookup", lambda: e.collect(
            spark, out, keys=f"{off}:+{LOOKUP_KEYS}").toArrow(),
            lambda t: same_rows(t, want.slice(off, LOOKUP_KEYS)) and t.num_rows)
        expect = want.filter(pc.greater(want.column("n_tok"), FILTER[0][2]))
        self.call("filter", lambda: e.collect(
            spark, out, filters=FILTER).toArrow(),
            lambda t: same_rows(t, expect) and t.num_rows)

    def maintain(self, out: str) -> None:
        e, spark = self.engine, self.spark

        def compacted(s):
            s["out"] = out
            self.compacts.append(s)
            return s["n_compacted"] == 0 or s["n_new_chunks"] < s["n_compacted"]

        self.call("compact", lambda: e.compact(
            spark, out, target_tokens=TARGET_TOKENS), compacted)
        def vacuumed(s):
            self.vacuums.append(s)
            return s["n_deleted_runs"] >= 0 and s["bytes_reclaimed"] >= 0

        self.call("vacuum", lambda: e.vacuum(spark, out), vacuumed)
        self.call("verify", lambda: e.verify_output(spark, out),
                  lambda r: r["status"] == "ok")

    def warm_up(self, src: str, out: str, want: tuple) -> None:
        self.refreeze(src, out)
        self.decode(out, want)

    def input_digests(self, srcs: list[str]) -> list[tuple]:
        """Digests of generated inputs, cached with each input entry."""
        return inputs.digests(srcs, lambda dirs: dir_digests(self.spark, dirs))

    # -- the metrics every workload reports -----------------------------
    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        """name -> (value, unit, samples) for every metric the run has
        samples of; BENCHMARK.json gates the ones both workloads share."""
        med = lambda xs: float(statistics.median(xs)) if xs else 0.0
        fz = [s for s in self.freezes if s["phase"] == "measure"]
        compact = [a + b for a, b in zip(self.walls("compact"),
                                         self.walls("vacuum"))]
        dec = self.measured("decode")
        return {
            "encode_tokens_per_s": (med([s["tokens"] / s["wall"] for s in fz]),
                                    "tok/s", len(fz)),
            "bytes_per_raw_byte": (sum(s["enc_bytes"] for s in fz)
                                   / max(1, sum(s["raw_bytes"] for s in fz)),
                                   "ratio", len(fz)),
            "resume_noop_s": (med(self.walls("refreeze")), "s",
                              len(self.walls("refreeze"))),
            "decode_tokens_per_s": (med(c["tokens"] / c["wall"] for c in dec),
                                    "tok/s", len(dec)),
            "projected_read_s": (med(self.walls("decode_projected")), "s",
                                 len(self.walls("decode_projected"))),
            "key_lookup_s": (med(self.walls("lookup")), "s",
                             len(self.walls("lookup"))),
            "filtered_read_s": (med(self.walls("filter")), "s",
                                len(self.walls("filter"))),
            "append_p50_s": (med([s["wall"] for s in fz]), "s", len(fz)),
            "compact_s": (med(compact), "s", len(compact)),
            "verify_s": (med(self.walls("verify")), "s",
                         len(self.walls("verify"))),
            "stored_bytes_per_raw_byte": (med(self.stored_ratios), "ratio",
                                          len(self.stored_ratios)),
            "cycle_s": (med(self.cycle_walls), "s", len(self.cycle_walls)),
        }

    # -- facts the traced run reads off the output ----------------------
    def manifest_rows(self, out: str, run: str) -> pa.Table:
        files = glob.glob(os.path.join(out, "manifest", f"run={run}", "*.parquet"))
        cols = ["chunk_id", "column", "codec_id", "n_values", "raw_bytes",
                "enc_bytes", "wall_ms"]
        return pa.concat_tables(pq.read_table(f, columns=cols) for f in files)

    def trace_facts(self, n_cycles: int, codec: dict) -> dict:
        import codecpass
        from cryo_spark import snapshots

        per = 1.0 / max(1, n_cycles)
        fz = [s for s in self.freezes if s["phase"] == "measure"]
        written = [self.manifest_rows(s["out"], s["run"]) for s in fz]
        spreads = []
        for t in written:
            n = t.filter(pc.equal(t.column("column"), "tokens")).column(
                "n_values").to_numpy()
            spreads.append(float(n.max() / n.mean()))
        rewrites = [self.manifest_rows(s["out"], s["run"])
                    for s in self.compacts if s["run"]]
        per_compact = 1.0 / max(1, len(self.compacts))
        rows = pa.concat_tables(written + rewrites)
        cycles = pa.concat_tables(written)
        codecs = {"codecs.kernel_task_s":
                  pc.sum(cycles.column("wall_ms")).as_py() / 1000 * per}
        fams = [codecpass.family(c) for c in cycles.column("codec_id").to_pylist()]
        for f in FAMILIES:
            codecs[f"codecs.chunks_by_codec.{f}"] = fams.count(f) * per
        for col in ("doc_id", "tokens", "n_tok", "source"):
            t = rows.filter(pc.equal(rows.column("column"), col))
            codecs[f"codecs.bytes_per_raw_byte.{col}"] = (
                pc.sum(t.column("enc_bytes")).as_py()
                / max(1, pc.sum(t.column("raw_bytes")).as_py()))
        codecs.update(codec["metrics"])
        return {
            "row_groups": lambda p: pq.ParquetFile(p).metadata.num_row_groups,
            "chunk_tokens_max_over_mean": (float(statistics.median(spreads))
                                           if spreads else 0.0),
            "codecs": codecs,
            "log_entries": len(snapshots.log(self.tail_output)),
            "maintenance": {
                "compact.rewrite_bytes": sum(pc.sum(t.column("enc_bytes")).as_py()
                                             for t in rewrites) * per_compact,
                "compact.chunks_in": sum(s["n_compacted"] for s in self.compacts)
                * per_compact,
                "compact.chunks_out": sum(s["n_new_chunks"] for s in self.compacts)
                * per_compact,
                "vacuum.runs_removed": sum(s["n_deleted_runs"] for s in self.vacuums)
                / max(1, len(self.vacuums)),
            },
        }


FAMILIES = ("plain", "bitpack", "for", "delta", "dod", "rle", "dict", "dictf",
            "strplain", "strdict", "strfsst")


class BulkFreeze(Workload):
    """Full-size freezes into fresh outputs, each resumed and decoded;
    the tail reads the latest one back three more ways."""

    def setup(self) -> None:
        self.src, self.meta = inputs.bulk_table(self.seed)
        self.table = pq.read_table(self.src)
        [self.want] = self.input_digests([self.src])
        # warm-up: a session's first call of each kind pays JIT and
        # Python-worker start-up
        warm = self.run.sub("out", "warmup")
        self.freeze(self.src, warm, self.meta)
        self.warm_up(self.src, warm, self.want)

    def freeze_problem(self, s, meta):
        b = s["enc_bytes"]
        if self.freezes and b != self.freezes[0]["enc_bytes"]:
            return f"enc_bytes {b} differ from the first freeze's"
        if b > meta["reference_zstd_bytes"]:
            return f"enc_bytes {b} exceed parquet+zstd {meta['reference_zstd_bytes']}"
        if self.seed == 42 and b != SEED42_ENC_BYTES:
            return f"enc_bytes {b} != {SEED42_ENC_BYTES} at seed 42"
        return super().freeze_problem(s, meta)

    def cycle(self, i: int) -> None:
        self.output = out = self.run.sub("out", f"c{i}")
        self.freeze(self.src, out, self.meta)
        self.refreeze(self.src, out)
        self.decode(out, self.want)
        self.stored_ratios.append(du(out) / self.meta["raw_bytes"])

    def tail(self) -> None:
        self.tail_output = self.output
        self.reads(self.output, self.table)


class AppendMaintain(Workload):
    """Small appends, each resumed, into a fresh output per cycle, which
    is then decoded twice; the tail maintains the latest output and
    decodes it once more."""

    def setup(self) -> None:
        self.used = 0  # batches appended so far, over all outputs
        self.pending = self.next_batches(0, 1 + APPENDS_PER_CYCLE * BATCH_CYCLES)
        # warm-up: a first commit on a cold session, its no-op resume
        # and decode
        self.start_output("warmup")
        self.append()
        self.warm_up(self.batches[-1][0], self.output, self.want)

    def next_batches(self, first: int, n: int) -> list[tuple[str, dict, tuple]]:
        made = [inputs.batch(self.seed, i) for i in range(first, first + n)]
        ds = self.input_digests([p for p, _ in made])
        return [(p, m, d) for (p, m), d in zip(made, ds)]

    def start_output(self, name: str) -> None:
        self.output = self.run.sub("out", name)
        self.batches: list[tuple[str, dict]] = []
        self.want = (0, 0, 0)

    def append(self) -> None:
        if not self.pending:
            self.pending = self.next_batches(self.used, APPENDS_PER_CYCLE * BATCH_CYCLES)
        src, meta, d = self.pending.pop(0)
        self.used += 1
        self.batches.append((src, meta))
        self.freeze(src, self.output, meta)
        self.want = tuple(a + b for a, b in zip(self.want, d))

    def cycle(self, i: int) -> None:
        self.start_output(f"t{i}")
        for _ in range(APPENDS_PER_CYCLE):
            self.append()
            self.refreeze(self.batches[-1][0], self.output)
        for _ in range(2):
            self.decode(self.output, self.want)

    def tail(self) -> None:
        self.tail_output = self.output
        self.maintain(self.output)
        self.decode(self.output, self.want)
        self.stored_ratios.append(
            du(self.output) / sum(m["raw_bytes"] for _, m in self.batches))


WORKLOADS = {"bulk_freeze": BulkFreeze, "append_maintain": AppendMaintain}
