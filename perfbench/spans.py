"""Spans around engine calls, and the Spark event log folded into them.

A span records name, start, end and parent. Every measured engine call
is a root span; driver-side layer functions are wrapped (module
attribute replacement, undone by :meth:`Tracer.close`) so their calls
become child spans. While a span is open its id is the thread's Spark
job description, so each Spark job (and through its stages, each task)
is attributed to the innermost span that launched it. Jobs are leaf
children: a span's self time is its duration minus the part of it that
child spans and jobs cover.

Untraced runs use the same spans for timing only: no wrappers, no job
descriptions, no event log.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import re
import statistics
import time

import pyarrow as pa

DATA_COLS = {"doc_id", "tokens", "n_tok", "source"}
SMALL_PY_INPUT = 64 << 10  # bytes per task: a scan task ships only file names


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self.sc = None
        self._stack: list[dict] = []
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": f"s{len(self.spans)}", "name": name, "phase": self.phase,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "info": {}, "t0": time.time(), "p0": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe(rec["id"])
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - rec["p0"]
            rec["t1"] = rec["t0"] + rec["dur"]
            self._stack.pop()
            self._describe(self._stack[-1]["id"] if self._stack else None)

    def _describe(self, span_id: str | None) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setJobDescription(span_id)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(rec, args, out)
            return out

        setattr(module, attr, traced)
        self._undo.append((module, attr, orig))

    def install(self) -> None:
        """Wrap the driver-side layer functions named in BENCHMARK.json."""
        from cryo_spark import engine, layout, snapshots, sources
        from cryo_spark.sources import parquet_arrow

        def plan_info(rec, _args, plan):
            rec["info"].update(n_chunks=plan.n_chunks,
                               n_salted_buckets=plan.n_salted_buckets)

        def rg_info(rec, args, rgs):
            rec["info"].update(path=args[0],
                               selected=None if rgs is None else len(rgs))

        for attr in ("plan_chunks_arrow", "plan_chunks"):
            self.wrap(layout, attr, "layout.plan", plan_info)
        # the package attribute serves engine/layout callers; the module
        # global serves calls inside parquet_arrow itself (arrow_scan)
        self.wrap(sources, "scan_meta", "sources.scan_meta")
        self.wrap(parquet_arrow, "scan_meta", "sources.scan_meta")
        self.wrap(sources, "select_row_groups", "sources.select_row_groups",
                  rg_info)
        for attr in ("read_manifest", "read_encoded", "read_bloom_stats"):
            self.wrap(engine, attr, f"engine.{attr}")
        for attr in ("commit", "current"):
            self.wrap(snapshots, attr, f"snapshots.{attr}")

    def close(self) -> None:
        for module, attr, orig in reversed(self._undo):
            setattr(module, attr, orig)
        self._undo.clear()


def read_event_log(evdir: str) -> list[dict]:
    """Events of the (single) application under ``evdir``, in order.

    Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>.zstd``
    directory by default; plain and single-file logs read too.
    """
    files = [f for f in glob.glob(os.path.join(evdir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(f) and os.path.basename(f).startswith(
                 ("events_", "local-", "app-"))]

    def index(f: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return int(m.group(1)) if m else 0

    events = []
    for f in sorted(files, key=index):
        if f.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(f), "zstd") as s:
                data = s.read()
        else:
            with open(f, "rb") as fh:
                data = fh.read()
        events.extend(json.loads(line) for line in data.decode().splitlines()
                      if line.strip())
    return events


class EventFold:
    """Per-stage task totals and per-job intervals from the event log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, collections.Counter] = collections.defaultdict(
            collections.Counter)
        self.stage_desc: dict[int, str | None] = {}
        self.stage_rdds: dict[int, set[str]] = {}
        decoded_accs: set[int] = set()
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {
                    "desc": (e.get("Properties") or {}).get("spark.job.description"),
                    "t0": e["Submission Time"] / 1000, "t1": None,
                    "stages": list(e.get("Stage IDs", []))}
            elif ev == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                self.stage_desc[sid] = (e.get("Properties") or {}).get(
                    "spark.job.description")
                # operator names (MapInArrow, WriteFiles, Exchange...)
                # travel in each RDD's scope
                self.stage_rdds[sid] = {
                    json.loads(r["Scope"])["name"].strip()
                    for r in e["Stage Info"]["RDD Info"] if r.get("Scope")}
            elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _decode_accumulators(e["sparkPlanInfo"], decoded_accs)
            elif ev == "SparkListenerTaskEnd":
                self._task(e, decoded_accs)

    def _task(self, e: dict, decoded_accs: set[int]) -> None:
        c = self.stages[e["Stage ID"]]
        m = e.get("Task Metrics") or {}
        c["tasks"] += 1
        c["failed"] += e["Task End Reason"]["Reason"] != "Success"
        c["run_ms"] += m.get("Executor Run Time", 0)
        c["gc_ms"] += m.get("JVM GC Time", 0)
        c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        w = m.get("Shuffle Write Metrics") or {}
        c["shuffle_w"] += w.get("Shuffle Bytes Written", 0)
        c["shuffle_w_ns"] += w.get("Shuffle Write Time", 0)
        r = m.get("Shuffle Read Metrics") or {}
        c["shuffle_r"] += r.get("Local Bytes Read", 0) + r.get("Remote Bytes Read", 0)
        c["fetch_wait_ms"] += r.get("Fetch Wait Time", 0)
        c["out_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for a in e["Task Info"].get("Accumulables", []):
            key = _PY_ACCS.get(a.get("Name"))
            if key is not None:
                c[key] += int(a["Update"])
            elif a.get("ID") in decoded_accs:
                c["decoded_rows"] += int(a["Update"])


_PY_ACCS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_ret",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


def _decode_accumulators(node: dict, out: set[int]) -> None:
    """Row-count accumulators of decode kernels: MapInArrow nodes whose
    output columns are data columns only (scan, plan and bloom kernels
    all emit other columns)."""
    if node.get("nodeName") == "MapInArrow":
        m = re.search(r"\)#\d+, \[(.*?)\]", node.get("simpleString", ""))
        cols = {a.split("#")[0] for a in m.group(1).split(", ")} if m else set()
        if cols and cols <= DATA_COLS:
            out.update(x["accumulatorId"] for x in node.get("metrics", [])
                       if x["name"] == "number of output rows")
    for child in node.get("children", []):
        _decode_accumulators(child, out)


def _covered(parent: dict, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to the parent span."""
    spans = sorted((max(a, parent["t0"]), min(b, parent["t1"]))
                   for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _shared(intervals: list[tuple[float, float]]) -> float:
    """Total time of the intervals with each instant counted once."""
    return _covered({"t0": float("-inf"), "t1": float("inf")}, intervals)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Attribution:
    """Spans and event-log jobs joined into one tree per measured call."""

    def __init__(self, tracer: Tracer, fold: EventFold):
        self.fold = fold
        self.spans = {s["id"]: s for s in tracer.spans}
        self.root: dict[str, str] = {}
        for s in tracer.spans:
            r = s
            while r["parent"] is not None:
                r = self.spans[r["parent"]]
            self.root[s["id"]] = r["id"]
        self.children: dict[str, list] = collections.defaultdict(list)
        for s in tracer.spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append((s["t0"], s["t1"]))
        self.jobs_of: dict[str, list[dict]] = collections.defaultdict(list)
        self.unattributed = []
        for j in fold.jobs.values():
            if j["t1"] is None:
                j["t1"] = j["t0"]
            if j["desc"] in self.spans:
                self.jobs_of[self.root[j["desc"]]].append(j)
                self.children[j["desc"]].append((j["t0"], j["t1"]))
            else:
                self.unattributed.append(j)
        self.stages_of: dict[str, list[int]] = collections.defaultdict(list)
        for sid, desc in fold.stage_desc.items():
            if desc in self.spans:
                self.stages_of[self.root[desc]].append(sid)

    def self_s(self, span: dict) -> float:
        return span["dur"] - _covered(span, self.children[span["id"]])

    def accounted_s(self, root_id: str) -> float:
        """Self time of every span under ``root_id`` plus the time its
        jobs ran (each instant once); equals the root's wall unless a job
        ran outside the span that launched it or beside a child span."""
        total = 0.0
        for s in self.spans.values():
            if self.root[s["id"]] != root_id:
                continue
            total += self.self_s(s)
            jobs = [(j["t0"], j["t1"]) for j in self.fold.jobs.values()
                    if j["desc"] == s["id"]]
            total += _shared(jobs)
        return total

    def stage_sum(self, root_id: str, key: str) -> float:
        return sum(self.fold.stages[s][key] for s in self.stages_of[root_id])


def layer_metrics(tracer: Tracer, fold: EventFold, n_cycles: int,
                  calls: list[dict], facts: dict) -> dict[str, float]:
    """Per-layer metrics of the measured cycles (see BENCHMARK.json).

    Layer totals are per cycle, over the timed cycles only; per-call
    metrics also cover the tail calls a workload makes once per run.
    ``calls`` are the workload's measured calls (op, span id, rows
    returned); ``facts`` carries what the workload read from the output
    itself (manifest rows, codec pass, maintenance summaries).
    """
    att = Attribution(tracer, fold)
    per = 1.0 / max(1, n_cycles)
    measured = [s for s in tracer.spans if s["phase"] == "measure"]
    roots = [s for s in measured if s["parent"] is None]
    root_ids = {s["id"] for s in roots}
    all_roots = roots + [s for s in tracer.spans
                         if s["phase"] == "tail" and s["parent"] is None]
    m: dict[str, float] = {}

    for op in OPS:
        mine = [s for s in all_roots if s["name"] == op]
        m[f"{op}.wall_s"] = _median(s["dur"] for s in mine)
        m[f"{op}.self_s"] = _median(att.self_s(s) for s in mine)
        m[f"{op}.task_s"] = _median(att.stage_sum(s["id"], "run_ms") / 1000
                                    for s in mine)
        m[f"{op}.jobs"] = _median(len(att.jobs_of[s["id"]]) for s in mine)
        m[f"{op}.shuffle_bytes"] = _median(
            att.stage_sum(s["id"], "shuffle_w") for s in mine)

    def spans_named(name):
        return [s for s in measured if s["name"] == name]

    def total_s(name):
        return sum(s["dur"] for s in spans_named(name)) * per

    def count(name):
        return len(spans_named(name)) * per

    session = [s for s in tracer.spans if s["name"] == "session"]
    m["session.start_s"] = session[0]["dur"] if session else 0.0

    stages = [sid for r in root_ids for sid in att.stages_of[r]]
    st = {sid: fold.stages[sid] for sid in stages}

    def stage_total(key, keep=lambda sid: True):
        return sum(c[key] for sid, c in st.items() if keep(sid)) * per

    def is_scan(sid):
        c = st[sid]
        return ("MapInArrow" in fold.stage_rdds.get(sid, ())
                and c["tasks"] and c["py_sent"] / c["tasks"] <= SMALL_PY_INPUT
                and c["py_ret"] > 0)

    m["sources.scan_meta_s"] = total_s("sources.scan_meta")
    m["sources.scan_meta_calls"] = count("sources.scan_meta")
    m["sources.scan_task_s"] = stage_total("run_ms", is_scan) / 1000
    m["sources.py_returned_bytes"] = stage_total("py_ret", is_scan)
    sel = [s["info"] for s in spans_named("sources.select_row_groups")]
    totals = [facts["row_groups"](i["path"]) for i in sel]
    picked = [t if i["selected"] is None else i["selected"]
              for i, t in zip(sel, totals)]
    m["sources.row_groups_read_ratio"] = (sum(picked) / sum(totals)
                                          if sum(totals) else 1.0)

    plans = [s for s in spans_named("layout.plan")
             if att.spans[att.root[s["id"]]]["name"] == "freeze"]
    m["layout.plan_s"] = total_s("layout.plan")
    m["layout.plan_calls"] = count("layout.plan")
    m["layout.n_chunks"] = _median(s["info"]["n_chunks"] for s in plans)
    m["layout.n_salted_buckets"] = _median(
        s["info"]["n_salted_buckets"] for s in plans)
    m["layout.chunk_tokens_max_over_mean"] = facts["chunk_tokens_max_over_mean"]

    m["shuffle.write_bytes"] = stage_total("shuffle_w")
    m["shuffle.read_bytes"] = stage_total("shuffle_r")
    m["shuffle.write_s"] = stage_total("shuffle_w_ns") / 1e9
    m["shuffle.fetch_wait_s"] = stage_total("fetch_wait_ms") / 1000

    m["pyworker.sent_bytes"] = stage_total("py_sent")
    m["pyworker.returned_bytes"] = stage_total("py_ret")
    m["pyworker.run_s"] = stage_total("py_run_ms") / 1000
    m["pyworker.init_s"] = stage_total("py_init_ms") / 1000
    m["pyworker.start_s"] = stage_total("py_start_ms") / 1000

    m.update(facts["codecs"])

    def writes_encoded(sid):
        return {"WriteFiles", "MapInArrow"} <= fold.stage_rdds.get(sid, set())

    m["engine.encode_write_task_s"] = stage_total("run_ms", writes_encoded) / 1000
    m["engine.output_bytes"] = stage_total("out_bytes")
    manifest_jobs = [
        j for s in roots if s["name"] == "freeze"
        for j in att.jobs_of[s["id"]]
        if any("WriteFiles" in fold.stage_rdds.get(x, ()) for x in j["stages"])
        and not any("MapInArrow" in fold.stage_rdds.get(x, ())
                    for x in j["stages"])]
    m["engine.manifest_job_s"] = sum(j["t1"] - j["t0"] for j in manifest_jobs) * per
    n_jobs = sum(len(att.jobs_of[r]) for r in root_ids)
    m["engine.jobs_per_call"] = n_jobs / max(1, len(roots))
    m["engine.tasks_per_call"] = (sum(c["tasks"] for c in st.values())
                                  / max(1, len(roots)))
    for fn in ("read_manifest", "read_encoded", "read_bloom_stats"):
        m[f"engine.{fn}_s"] = total_s(f"engine.{fn}")
        m[f"engine.{fn}_calls"] = count(f"engine.{fn}")

    reads = [s for s in all_roots if s["name"] in ("lookup", "filter")]
    returned = sum(c["rows"] for c in calls if c["span"] in {s["id"] for s in reads})
    decoded = sum(att.stage_sum(s["id"], "decoded_rows") for s in reads)
    m["read.rows_decoded_per_row_returned"] = decoded / max(1, returned)

    for fn in ("commit", "current"):
        m[f"snapshots.{fn}_s"] = total_s(f"snapshots.{fn}")
        m[f"snapshots.{fn}_calls"] = count(f"snapshots.{fn}")
    m["snapshots.log_entries"] = facts["log_entries"]

    m.update(facts["maintenance"])

    m["spark.gc_s"] = stage_total("gc_ms") / 1000
    m["spark.spill_bytes"] = stage_total("spill")
    m["spark.failed_tasks"] = stage_total("failed")

    for s in all_roots:
        s["accounted_s"] = att.accounted_s(s["id"])
    errs = [abs(s["accounted_s"] - s["dur"]) / s["dur"]
            for s in all_roots if s["dur"] > 0]
    m["trace.reconcile_err_max"] = max(errs, default=0.0)
    m["trace.unattributed_jobs"] = sum(
        1 for j in att.unattributed
        if any(s["t0"] <= j["t0"] <= s["t1"] for s in roots)) * per
    return m


OPS = ("freeze", "refreeze", "decode", "decode_projected", "lookup", "filter",
       "compact", "vacuum", "verify")
