"""Benchmark entry point for the KG engine.

    python3 perfbench/run.py --workload kg_stream --seed 1 --seconds 5 --trace 0

Runs one workload (see ``perfbench/workloads.py``) on one local Spark
session sized to the host, checks its outputs, and prints one JSON
summary line last on stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans plus Spark's event log) and
the tracing overhead.  The traced run of ``kg_stream`` also runs the
batch build and its resume, whose stages it splits by module.  The full record of the run — every operation,
check and span and the folded event-log numbers — goes to
``.perfbench_results/<workload>-s<seed>-t<trace>.json`` in the
checkout.  Exits non-zero, printing no summary, when the product is
missing or the host cannot run it.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, sys.path[0] is this directory, whose module names
# (trace, inputs) would shadow others; import from the checkout root
sys.path[0] = ROOT
RESULTS_DIR = ".perfbench_results"
LINE_LIMIT = 1800

# The gated figures: setup_s and op_cpu_s are CPU seconds of the
# client, the JVM and its Python workers, JIT compilation left out,
# divided by the slowdown the speed probe saw over the same window, so
# they read as CPU seconds on an unloaded vCPU (see host.Meter and
# host.SpeedProbe; the record keeps the raw seconds and the slowdown).
# Wall times are in the record file and, per layer, in the traced run.
# peak_mem_mb is the driver JVM's: its heap's peak use plus its peak
# Pss outside the heap.  The Python workers' memory is in the
# record file: how many of them are alive at once moves with task
# timing (11 to 15 at the peak over runs of the same stream inputs).
E2E_UNITS = {
    "setup_s": "s",
    "peak_mem_mb": "MiB",
    "op_cpu_s": "s",
}
QUERY_LAYERS = ["closure.q17", "cc.q16", "dedup.q38", "mentions.q18"]
BUILD_STAGES = {stage: f"{module}.{stage}" for stage, module in {
    "pages_clean": "extract", "page_dupes": "dedup",
    "mentions": "mentions", "fuzzy_mentions": "lsh_link",
    "promoted": "skew", "fetch_queue": "pipeline",
    "entities": "pipeline", "triples_raw": "mentions",
    "canonical_map": "cc", "triples": "pipeline",
}.items()}
# The summary line carries the per-layer metrics an optimisation is most
# likely to move, so it stays under LINE_LIMIT; the record file has
# every per-layer number (``per_layer_all``).
LINE_LAYERS = {
    "session.start_s": "s", "sources.generate_s": "s", "warmup_s": "s",
    "trace.overhead_s": "s",
    "extract.pages_clean.task_s": "s", "dedup.page_dupes.task_s": "s",
    "mentions.mentions.task_s": "s", "lsh_link.fuzzy_mentions.task_s": "s",
    "pipeline.fetch_queue.task_s": "s", "cc.canonical_map.task_s": "s",
    "storage.fetch_state.wall_s": "s", "lineage.record_s": "s",
    "pipeline.driver_gap_s": "s", "pipeline.resume.wall_s": "s",
    "incremental.batch.add_batch_s": "s",
    "incremental.batch.read_committed_s": "s",
    "incremental.batch.probe_scan_s": "s",
    "incremental.batch.state_files_read": "count",
    "incremental.batch.write_delta_s": "s",
    "incremental.batch.compact_s": "s",
    "incremental.batch.task_s": "s",
    "closure.q17.jobs": "count", "closure.q17.stages": "count",
    "closure.q17.task_s": "s",
    "cc.q16.stages": "count", "dedup.q38.task_s": "s",
    "mentions.q18.task_s": "s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric of the summary line and its unit."""
    return dict(LINE_LAYERS)


def summary_line(correct: bool, attempted: int, failed: int,
                 values: dict[str, float], units: dict[str, str]) -> str:
    metrics = {
        k: {"value": round(values[k], 6), "unit": units[k]} for k in units
    }
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed,
         "metrics": metrics},
        separators=(",", ":"),
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile_tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile the sample supports: the 99th with at
    least 1000 samples, the 90th with at least 100, else the maximum.
    Returns (value, label)."""
    xs = sorted(values)
    n = len(xs)
    for p, need in ((99, 1000), (90, 100)):
        if n >= need:
            return statistics.quantiles(xs, n=100)[p - 1], f"p{p}"
    return xs[-1], "max"


# metrics -------------------------------------------------------------------


def query_e2e(execs: list[dict]) -> tuple[dict, dict]:
    """One operation is one round: q17, q16, q38 then q18."""
    rounds: dict[int, list[dict]] = {}
    for e in execs:
        rounds.setdefault(e["round"], []).append(e)
    wall = [sum(e["s"] for e in r) for r in rounds.values()]
    cpu = [sum(e["cpu_s"] for e in r) for r in rounds.values()]
    layers = {}
    for layer in QUERY_LAYERS:
        xs = [e for e in execs if e["layer"] == layer]
        layers[f"{layer}.wall_s"] = _median([x["s"] for x in xs])
        layers[f"{layer}.cpu_s"] = _median([x["cpu_s"] for x in xs])
    tail, label = percentile_tail([e["s"] for e in execs])
    return (
        {"op_cpu_s": _median(cpu)},
        {"op": "query round (q17, q16, q38, q18)", "samples": len(wall),
         "op_wall_s": _median(wall),
         "query_tail_s": tail, "tail": label, "layers": layers},
    )


def stream_e2e(ops: list[dict]) -> tuple[dict, dict]:
    """One operation is one catch-up run of the stream."""
    ok = [o["stream"] for o in ops if "stream" in o]
    batch = [b["triggerExecution_s"] for o in ok for b in o["batches"]]
    tail, label = percentile_tail(batch) if batch else (0.0, "none")
    detail = {
        "op": "catch-up availableNow run", "samples": len(ok),
        "op_wall_s": _median([o["wall_s"] for o in ok]),
        "stream_pages_per_s": sum(o["pages"] for o in ok)
        / sum(o["wall_s"] for o in ok) if ok else 0.0,
        "batches": len(batch), "batch_p50_s": _median(batch),
        "batch_tail_s": tail, "batch_tail": f"{label} of {len(batch)}",
        "layers": {},
    }
    built = [o for o in ops if "build" in o and "error" not in o]
    for phase in ("build", "resume"):
        if built:
            detail[f"{phase}_wall_s"] = _median(
                [o[phase]["wall_s"] for o in built])
            detail[f"{phase}_cpu_s"] = _median(
                [o[phase]["cpu_s"] for o in built])
    if built:
        detail["build_pages_per_s"] = _median(
            [o["build"]["pages"] / o["build"]["wall_s"] for o in built])
    return {"op_cpu_s": _median([o["cpu_s"] for o in ok])}, detail


def query_layers(events, spans) -> dict[str, float]:
    """Event-log numbers per traced execution (job group
    ``<layer>#<round>``), median over the executions of each layer."""
    from perfbench import trace

    folded = trace.fold(events, lambda p: p.get("spark.jobGroup.id"))
    out = {}
    for layer in QUERY_LAYERS:
        runs = [
            (s, folded[f"{layer}#{i}"])
            for i, s in enumerate(x for x in spans if x["name"] == layer)
            if f"{layer}#{i}" in folded
        ]
        for m, f in (("jobs", lambda p: p["jobs"]),
                     ("stages", lambda p: p["stages"]),
                     ("task_s", lambda p: p["task_s"]),
                     ("shuffle_write_mb",
                      lambda p: p["shuffle_write_b"] / 2**20)):
            out[f"{layer}.{m}"] = _median([f(p) for _, p in runs])
        out[f"{layer}.driver_gap_s"] = _median([
            trace.driver_gap_s([(s["start"], s["end"])], p["tasks"])
            for s, p in runs
        ])
    return out


def build_layers(events, spans) -> dict[str, float]:
    """The traced operation's pipeline phases: per stage, the event-log
    numbers of its job group and the wall time of its compute and
    commit; the time spent in lineage and metrics records, in the
    ``fetch_state`` update and with no task running."""
    from perfbench import trace

    folded = trace.fold(events, lambda p: p.get("spark.jobGroup.id"))
    every_task = trace.fold(events, lambda p: "all").get(
        "all", {"tasks": []})["tasks"]
    out = {}
    for phase, prefix in (("build", ""), ("resume", "resume.")):
        root = next(s for s in spans if s["name"] == f"pipeline.{phase}")
        kids = [s for s in spans if root["start"] <= s["start"]
                and s["end"] <= root["end"] and s is not root]

        def dur(s):
            return s["end"] - s["start"]

        record = sum(dur(s) for s in kids if s["name"] == "lineage.run_stage")
        compute = {s["stage"]: dur(s) for s in kids
                   if s["name"] == "storage.resume_or_compute"}
        out[f"lineage.{prefix}record_s"] = record - sum(compute.values())
        out[f"storage.{prefix}fetch_state.wall_s"] = sum(
            dur(s) for s in kids
            if s["name"] in ("storage.write", "storage.drop")
            and s["table"].startswith("fetch_state")
        )
        out[f"pipeline.{prefix}driver_gap_s"] = trace.driver_gap_s(
            [(root["start"], root["end"])], every_task
        )
        out[f"pipeline.{phase}.wall_s"] = dur(root)
        if phase == "resume":
            continue
        for stage, layer in BUILD_STAGES.items():
            f = folded.get(f"build:{stage}")
            out[f"{layer}.wall_s"] = compute.get(stage, 0.0)
            if f is None:
                continue
            out[f"{layer}.task_s"] = f["task_s"]
            out[f"{layer}.shuffle_write_mb"] = f["shuffle_write_b"] / 2**20
            out[f"{layer}.spill_mb"] = f["spill_b"] / 2**20
            out[f"{layer}.peak_mem_mb"] = f["peak_mem_b"] / 2**20
            out[f"{layer}.task_skew"] = trace.task_skew(f["run_s"])
    return out


def stream_layers(events, spans, op) -> dict[str, float]:
    """The traced stream catch-up, per micro-batch (its totals over its
    micro-batches).  ``read_committed_s`` is the probe's plan-building
    time; the probe's scan of the state runs inside the output write,
    and its time, files and bytes come from the scans' SQL metrics."""
    from perfbench import trace

    st = op["stream"]
    folded = trace.fold(events, lambda p: p.get("spark.jobGroup.id"))
    probe = trace.scans(events, "_state/",
                        lambda p: p.get("spark.jobGroup.id"))
    root = next(s for s in spans if s["name"] == "incremental.stream")
    kids = [s for s in spans if s["parent"] == root["id"]]

    def total(name):
        return sum(s["end"] - s["start"] for s in kids
                   if s["name"] == f"incremental.state.{name}")

    f = folded.get(st["run_id"], {})
    sc = probe.get(st["run_id"], {})
    n = max(1, len(st["batches"]))
    per = {
        "add_batch_s": sum(b.get("addBatch_s", 0.0) for b in st["batches"]),
        "checkpoint_s": sum(b.get("walCommit_s", 0.0)
                            + b.get("commitOffsets_s", 0.0)
                            for b in st["batches"]),
        "read_committed_s": total("read_committed"),
        "probe_scan_s": sc.get("scan_ms", 0) / 1000.0,
        "probe_mb": sc.get("bytes", 0) / 2**20,
        "state_files_read": sc.get("files", 0),
        "write_delta_s": total("write_delta"),
        "compact_s": total("compact"),
        "task_s": f.get("task_s", 0.0),
        "shuffle_write_mb": f.get("shuffle_write_b", 0) / 2**20,
        "jobs": f.get("jobs", 0),
        "compactions": sum(1 for s in kids if s.get("compacted")),
    }
    out = {f"incremental.batch.{k}": v / n for k, v in per.items()}
    out["incremental.batch.state_mb"] = st["state_bytes"] / 2**20
    out["incremental.batch.wall_s"] = _median(
        [b["triggerExecution_s"] for b in st["batches"]])
    return out


# session -------------------------------------------------------------------


def start_session(work: str, trace_on: bool):
    from perfbench import host
    from arachne_spark.session import get_spark

    n = host.cores()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf=host.session_conf(work, event_log=trace_on),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait until
    every one of them has exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    from perfbench import host

    gw = SparkContext._gateway
    proc = gw.proc
    pids = [p for p in host.tree_pids(proc.pid) if p != proc.pid]
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.monotonic() + 5
            time.sleep(0.1)


# main ----------------------------------------------------------------------


def product_missing() -> list[str]:
    """Product files the benchmark drives, missing from this checkout."""
    need = ["arachne_spark/__init__.py", "__spark_entry__.py",
            "tests/oracle.py"]
    out = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if importlib.util.find_spec("pyspark") is None:
        out.append("pyspark")
    return out


def run(args) -> tuple[str, dict]:
    from perfbench import host

    host.require_no_spark_jvm()
    work = host.prepare_work_dir(ROOT)
    probe = host.SpeedProbe(ROOT)
    try:
        return _run(args, work, probe)
    finally:
        probe.stop()


def _run(args, work: str, probe) -> tuple[str, dict]:
    from perfbench import host, trace, workloads

    c_start, t_start = time.process_time(), time.perf_counter()
    spark = start_session(work, bool(args.trace))
    walls = {"session.start_s": time.perf_counter() - t_start}
    record = {"args": vars(args), "cores": host.cores(),
              "driver_memory": spark.conf.get("spark.driver.memory")}
    query = args.workload == "kg_query"
    try:
        jvm = spark.sparkContext._gateway.proc.pid
        with host.Meter(jvm, probe) as meter:
            # setup in CPU seconds, JIT left out; the JVM's count starts
            # at its launch, this process's at c_start
            c_session = meter.work_s() - c_start
            kind = workloads.QueryWorkload if query else \
                workloads.StreamWorkload
            wl = kind(spark, meter, work, args.seed)
            c, t = meter.work_s(), time.perf_counter()
            record["inputs"] = wl.generate()
            c_gen = meter.work_s() - c
            walls["sources.generate_s"] = time.perf_counter() - t
            ops = []
            if args.trace:
                tracer = trace.Tracer(
                    f"{args.workload}-s{args.seed}", spark.sparkContext
                )
                if not query:
                    # the batch build, first in the fresh JVM
                    ops.append(wl.run_batch(tracer))
            c, t = meter.work_s(), time.perf_counter()
            wl.warmup()
            c_warm = meter.work_s() - c
            walls["warmup_s"] = time.perf_counter() - t
            raw = {"session.start_s": c_session,
                   "sources.generate_s": c_gen, "warmup_s": c_warm}
            # one slowdown for the whole set-up: generation alone is
            # shorter than the probe's period
            slow = probe.slowdown(t_start, time.perf_counter())
            setup = {k: v / slow for k, v in raw.items()}
            record["setup"], record["setup_wall"] = setup, walls
            record["setup_raw"], record["setup_slowdown"] = raw, slow

            if args.trace:
                # the traced run times one traced operation in place of
                # the untraced ones
                ops += wl.run(args.seconds, tracer=tracer,
                              **{"rounds" if query else "ops": 1})
                record["spans"] = tracer.spans
                record["trace_overhead_s"] = (
                    trace.event_log_cpu_s(spark._jvm) + tracer.own_s
                )
            else:
                ops += wl.run(args.seconds)
            record["ops"] = ops
            t = time.perf_counter()
            checks = wl.check(ops)
            record["check_wall_s"] = time.perf_counter() - t
            record["heap_peak_mb"] = host.heap_peak_mb(spark._jvm)
        record["checks"] = checks
        record["peak_jvm_off_heap_mb"] = meter.peak_jvm_off_heap_mb
        record["peak_python_mb"] = meter.peak_python_kb / 1024.0
        record["peak_python_processes"] = meter.peak_workers
    finally:
        stop_session(spark)

    failed = sum(1 for o in ops if "error" in o) + sum(
        1 for c in checks if not c["ok"]
    )
    attempted = len(ops) + len(checks)
    record["error_rate"] = failed / attempted

    e2e, detail = (query_e2e if query else stream_e2e)(ops)
    e2e["setup_s"] = sum(setup.values())
    e2e["peak_mem_mb"] = (record["heap_peak_mb"]
                          + record["peak_jvm_off_heap_mb"])
    record["end_to_end"], record["end_to_end_detail"] = e2e, detail

    if args.trace:
        events = trace.read_event_log(os.path.join(work, "eventlog"))
        values = dict(setup)
        values["trace.overhead_s"] = record["trace_overhead_s"]
        values.update(detail["layers"])
        ok = [o for o in ops if "error" not in o]
        if query:
            values.update(query_layers(events, record["spans"]))
        else:
            if any("build" in o for o in ok):
                values.update(build_layers(events, record["spans"]))
            for o in ok:
                if "stream" in o:
                    values.update(stream_layers(events, record["spans"], o))
        record["per_layer_all"] = values
        self_t = trace.self_times(record["spans"])
        record["top_self_s"] = sorted(
            self_t.items(), key=lambda kv: -kv[1]
        )[:5]
        units = layer_units()
        # a layer the workload does not run reads 0
        values = {k: values.get(k, 0.0) for k in units}
    else:
        values, units = e2e, E2E_UNITS
    line = summary_line(failed == 0, attempted, failed, values, units)
    return line, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_stream", "kg_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = product_missing()
    if missing:
        print(f"perfbench: missing {', '.join(missing)}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    from perfbench.host import HostError

    try:
        line, record = run(args)
    except HostError as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 3
    out_dir = os.path.join(ROOT, RESULTS_DIR)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, s in record.get("top_self_s", []):
        print(f"self time {s:9.3f} s  {name}")
    print(f"full record: {os.path.relpath(path, ROOT)}")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
