"""cryo_spark engine benchmark: one command, every metric, checked results.

    python3 perfbench/run.py --workload bulk_freeze --seed 42 --seconds 15 --trace 0

Runs one workload (see workloads.py) from a single driver process as a
closed loop with one client: each engine call starts when the previous
one has returned. Spark runs at ``local[nproc - 1]`` (see
host.task_slots). Set-up (session start, input generation and
validation, the cold warm-up calls) is timed as ``setup_s``; then whole
cycles of calls repeat until they have taken ``--seconds`` (at least one
cycle), and each timing reported is the median over the run's calls. A
tail of calls the workload makes once per run sits between the cycles,
once they have taken half of ``--seconds``: their samples then span a
longer stretch of the host's varying speed than back-to-back cycles
would, at the same run length. ``--trace 1`` turns on spans around
layer functions, the Spark event log and the off-Spark codec pass, and
reports the per-layer metrics instead (see BENCHMARK.json).

stdout carries a readable report and, as its last line, one JSON
object; Spark's own logs go to ``.perfbench_work/logs/<workload>.log``.
The exit code is 0 only when every result checked out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

import host

sys.path.insert(0, host.ROOT)

# the end-to-end metrics both workloads measure (BENCHMARK.json end_to_end)
GATED = ("setup_s", "encode_tokens_per_s", "append_p50_s",
         "bytes_per_raw_byte", "resume_noop_s", "decode_tokens_per_s",
         "stored_bytes_per_raw_byte")


def start_session(tracer, run):
    from cryo_spark import session

    with host.output_to(run.log), tracer.span("session"):
        spark = session.get_spark(
            app="perfbench", master=f"local[{host.task_slots()}]",
            shuffle_partitions=host.task_slots(),
            extra_conf=host.spark_conf(run, tracer.enabled))
    return spark


def launch(workload: str, tracer, run, seed: int):
    """Session start, overlapped with generating the bulk input."""
    import inputs

    box: dict = {}

    def session():
        try:
            box["spark"] = start_session(tracer, run)
        except BaseException as e:  # re-raised on the main thread
            box["error"] = e

    t = threading.Thread(target=session)
    t.start()
    if workload == "bulk_freeze":
        inputs.bulk_table(seed)
    t.join()
    if "error" in box:
        raise box["error"]
    tracer.sc = box["spark"].sparkContext
    if tracer.enabled:
        tracer.install()
    return box["spark"]


def run_tail(w, tracer) -> float:
    t0 = time.perf_counter()
    tracer.phase = "tail"
    w.tail()
    tracer.phase = "measure"
    return time.perf_counter() - t0


def overhead_state(workload: str) -> str:
    return os.path.join(host.WORK, "state", f"{workload}.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import cryo_spark  # noqa: F401  (fail before any output without the engine)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")
    calib = host.calibration()
    run = host.RunDir(args.workload, args.seed)
    try:
        return measure(args, run, calib)
    finally:
        run.close()


def measure(args, run, calib) -> int:
    import workloads
    from spans import Tracer

    host.isolate_env(run)
    tracer = Tracer(enabled=bool(args.trace))
    sampler = host.RssSampler()
    spark = codec = None
    phases: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = launch(args.workload, tracer, run, args.seed)
        w = workloads.WORKLOADS[args.workload](spark, tracer, run, args.seed)
        w.setup()
        setup_s = time.perf_counter() - t0
        tracer.phase = "measure"
        with sampler.measuring():
            phases["cycles"] = 0.0
            while not w.cycle_walls or phases["cycles"] < args.seconds:
                c0 = time.perf_counter()
                w.cycle(len(w.cycle_walls))
                w.cycle_walls.append(time.perf_counter() - c0)
                phases["cycles"] += w.cycle_walls[-1]
                if "tail" not in phases and phases["cycles"] >= args.seconds / 2:
                    phases["tail"] = run_tail(w, tracer)
            if "tail" not in phases:
                phases["tail"] = run_tail(w, tracer)
        tracer.phase = "check"
        if tracer.enabled:
            import codecpass

            codec = codecpass.run(w.tail_output, workloads.CODEC_PASS_CHUNKS,
                                  args.seed)
            if codec["mismatches"]:
                w.problems.append(f"codec pass: {codec['mismatches']} frames "
                                  "re-selected or re-encoded differently")
                w.calls.append({"op": "codecpass", "failed": True,
                                "phase": "check"})
    except workloads.Failed:
        pass
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            host.stop_spark(spark)
        phases["stop"] = time.perf_counter() - t_stop
        sampler.close()
        tracer.close()

    ok = not w.problems
    attempted = sum(1 for c in w.calls if c["phase"] in workloads.MEASURED)
    failed = sum(1 for c in w.calls if c.get("failed"))
    report = {"correct": ok, "attempted": max(1, attempted), "failed": failed,
              "metrics": {}}
    if ok:
        cycle_s = statistics.median(w.cycle_walls)
        if tracer.enabled:
            report["metrics"] = layer_report(w, tracer, run, codec, cycle_s,
                                             args.workload)
        else:
            report["metrics"] = e2e_report(w, setup_s, sampler, cycle_s,
                                           attempted, failed, calib, args)
            print("phases (s): " + " ".join(f"{k}={v:.1f}" for k, v in
                                            {"setup": setup_s, **phases}.items()))
            os.makedirs(os.path.dirname(overhead_state(args.workload)),
                        exist_ok=True)
            with open(overhead_state(args.workload), "w") as f:
                json.dump({"cycle_s": cycle_s}, f)
    save_calls(w.calls, args.workload, args.trace)
    for p in w.problems:
        print(f"FAILED {p}", file=sys.stderr)
    print(json.dumps(report))
    return 0 if ok else 1


def save_calls(calls, workload: str, trace: int) -> None:
    """Every call's op, phase and wall time, for looking into a run."""
    logs = os.path.join(host.WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{workload}.calls{trace}.json"), "w") as f:
        json.dump([{k: c.get(k) for k in ("op", "phase", "wall", "failed")}
                   for c in calls], f)


def e2e_report(w, setup_s, sampler, cycle_s, attempted, failed, calib, args):
    rows = w.end_to_end()
    rows["setup_s"] = (setup_s, "s", 1)
    rows["peak_rss_mb"] = (sampler.peak / 2**20, "MB", 1)
    print(f"workload {args.workload} seed {args.seed}: {len(w.cycle_walls)} "
          f"cycles, median cycle {cycle_s:.3f} s, closed loop, 1 client, "
          f"local[{host.task_slots()}]")
    print(f"host nproc={host.nproc()} ram_gb={host.ram_gb():.1f} "
          f"driver_mem={host.driver_mem()} cpu_scan_gbps={calib['cpu_scan_gbps']} "
          f"memcpy_gbps={calib['memcpy_gbps']}")
    for name, (value, unit, n) in rows.items():
        if n:
            print(f"  {name:28s} {value:16.6g} {unit:6s} n={n}"
                  + ("" if name in GATED else "  (not gated)"))
    print(f"  {'failed_ops_ratio':28s} {failed / max(1, attempted):16.6g} "
          f"{'ratio':6s} n={attempted}")
    fz = [s for s in w.freezes if s["phase"] == "measure"]
    print(f"  {'enc_bytes':28s} {fz[-1]['enc_bytes'] if fz else 0:16d} bytes  "
          f"(last freeze)")
    for op in ("lookup", "filter"):
        returned = [c["rows"] for c in w.measured(op)]
        if returned:
            print(f"  {op + '_rows':28s} {returned[-1]:16d} rows   (last call)")
    return {k: {"value": rows[k][0], "unit": rows[k][1]} for k in GATED}


def layer_report(w, tracer, run, codec, cycle_s, workload):
    import spans
    import workloads

    fold = spans.EventFold(spans.read_event_log(run.sub("eventlog")))
    facts = w.trace_facts(len(w.cycle_walls), codec)
    m = spans.layer_metrics(tracer, fold, len(w.cycle_walls),
                            [c for c in w.calls
                             if c["phase"] in workloads.MEASURED],
                            facts)
    try:
        with open(overhead_state(workload)) as f:
            base = json.load(f)["cycle_s"]
        m["trace.overhead_ratio"] = cycle_s / base - 1
    except (OSError, ValueError, KeyError):
        print("no untraced run recorded yet: trace.overhead_ratio reads 0",
              file=sys.stderr)
        m["trace.overhead_ratio"] = 0.0
    print(f"workload {workload}: traced, {len(w.cycle_walls)} cycles, "
          f"median cycle {cycle_s:.3f} s")
    for name, value in m.items():
        print(f"  {name:44s} {value:16.6g}")
    print("codec pass (ns/value by codec_id, on "
          f"{sum(v['frames'] for v in codec['by_codec'].values())} frames):")
    for cid, v in codec["by_codec"].items():
        print(f"  {cid:32s} frames={v['frames']:4d} values={v['values']:10d} "
              f"decode={v['decode_ns_per_value']:8.2f} "
              f"select={v['select_ns_per_value']:8.2f} "
              f"encode={v['encode_ns_per_value']:8.2f}")
    os.makedirs(os.path.join(host.WORK, "logs"), exist_ok=True)
    with open(os.path.join(host.WORK, "logs", f"{workload}.trace.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m, "codec": codec}, f,
                  default=str)
    return {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}


def _unit(name: str) -> str:
    """The unit BENCHMARK.json gives each per-layer metric."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("ns_per_value"):
        return "ns/value"
    if any(k in name for k in ("ratio", "per_raw_byte", "over_mean",
                               "per_row_returned", "err_max")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
