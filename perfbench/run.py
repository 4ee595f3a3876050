"""Tier-engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from
`--seed` with `tstoken.synth`, sets up a host-fit local Spark session,
stages and warms up, then times ops for `--seconds` seconds, checking
every op's output. It prints a readable report, a provenance record
line, and as its last line the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` they are the per-layer metrics of a traced run, which
interleaves traced and untraced ops so it can report its own overhead.
Metric names and units are those of `BENCHMARK.json`; their definitions
and the layer -> end-to-end map are in `perfbench/layers.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from contextlib import ExitStack
from pathlib import Path

import harness
from spans import TASK_FIELDS, Tracer

HERE = Path(__file__).resolve().parent
LAYERS = json.loads((HERE / "layers.json").read_text())
CONTRACT = json.loads((harness.ROOT / "BENCHMARK.json").read_text())


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def workload_class(name: str):
    from workloads import WORKLOADS
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    return WORKLOADS[name]


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 spark=None, work: Path | None = None) -> dict:
    """Set up, warm up and measure one workload; return the full record.

    `spark`/`work` let a caller (the smoke test) reuse one session; the
    command line path starts its own."""
    t0 = time.monotonic() - _process_age_s()
    cls = workload_class(name)
    with ExitStack() as stack:
        session_s = 0.0
        if spark is None:
            work = stack.enter_context(harness.work_dir(f"{name}-s{seed}"))
            ts = time.monotonic()
            stack.callback(harness.stop_spark)
            spark = harness.start_spark(work, trace)
            session_s = time.monotonic() - ts
        tracer = Tracer(spark, enabled=trace)
        wl = cls(spark=spark, work=work, seed=seed)
        stack.callback(wl.close)

        ts = time.monotonic()
        wl.stage()
        stage_s = time.monotonic() - ts
        wl.warmup()
        setup_s = time.monotonic() - t0  # process start -> first timed op

        ops = wl.measure(seconds, tracer)
        rss = harness.peak_rss_mb()
        if trace:
            tracer.attribute(work / "eventlog")
        record = summarize(name, seed, trace, wl, ops, tracer, {
            "setup_s": setup_s, "session_s": session_s,
            "stage_s": stage_s, "peak_rss_mb": rss})
        record["provenance"] = harness.provenance(spark, seed)
        if trace:
            out = harness.RESULTS_DIR / f"{name}-seed{seed}.spans.json"
            tracer.write(out)
            record["spans_file"] = str(out.relative_to(harness.ROOT))
        return record


def summarize(name, seed, trace, wl, ops, tracer, setup) -> dict:
    timed = [o for o in ops if not o.get("traced")]
    walls = [o["wall_s"] for o in timed]
    op_time = sum(walls)
    failed = sum(1 for o in ops if not o["ok"])
    e2e = {
        "setup_s": setup["setup_s"],
        "op_p50_s": statistics.median(walls),
        "rows_per_s": sum(o["rows"] for o in timed) / op_time,
        "points_per_s": sum(o["points"] for o in timed) / op_time,
        "peak_rss_mb": setup["peak_rss_mb"],
    }
    extra = {"failed_ops_ratio": failed / len(ops)}
    extra.update(wl.extra_metrics())
    layer = {}
    if trace:
        layer = spark_layer_metrics(tracer)
        layer.update(wl.layer_metrics(tracer))
        layer["session.start_s"] = setup["session_s"]
        layer["synth.stage_s"] = setup["stage_s"]
        traced = [o["wall_s"] for o in ops if o.get("traced")]
        layer["trace.spans"] = float(len(tracer.spans))
        layer["trace.op_p50_s"] = statistics.median(traced) if traced else 0.0
        layer["trace.untraced_op_p50_s"] = e2e["op_p50_s"]
        layer["trace.overhead_s"] = (layer["trace.op_p50_s"] - e2e["op_p50_s"]
                                     if traced else 0.0)
        for m in CONTRACT["per_layer"]:
            layer.setdefault(m["name"], 0.0)
    return {
        "workload": name, "seed": seed, "trace": trace,
        "attempted": len(ops), "failed": failed,
        "problems": [p for o in ops for p in o.get("problems", [])][:20],
        "samples": {"op": len(walls)},
        "end_to_end": e2e, "workload_metrics": extra, "per_layer": layer,
        "span_self_s": tracer.median_self() if trace else {},
        "setup": setup, "op_walls_s": walls,
    }


def spark_layer_metrics(tracer: Tracer) -> dict:
    """Per traced op: Spark jobs, stages, tasks and task metrics of the
    op's span subtree, codegen, and the executor busy share."""
    cores = harness.host_cores()
    per_op = []
    for root in tracer.by_name("op"):
        recs = tracer.subtree(root["id"])
        tm = {k: sum(r.get("task_metrics", {}).get(k, 0) for r in recs)
              for k in TASK_FIELDS}
        wall = root["end"] - root["start"]
        # the op span brackets its children, so its codegen delta
        # already covers the whole op
        tm.update({
            "jobs": sum(len(r["jobs"]) for r in recs),
            "stages": sum(len(r["stages"]) for r in recs),
            "codegen_compiles": root["codegen_compiles"],
            "codegen_compile_s": root["codegen_compile_s"],
            "core_busy_ratio": tm["executor_run_s"] / (wall * cores),
        })
        per_op.append(tm)
    if not per_op:
        return {}
    return {f"spark.{k}": statistics.median([o[k] for o in per_op])
            for k in per_op[0]}


def contract_metrics(record: dict) -> dict:
    section = "per_layer" if record["trace"] else "end_to_end"
    spec = {m["name"]: m["unit"] for m in CONTRACT[section]}
    vals = record[section]
    return {k: {"value": float(vals[k]), "unit": u} for k, u in spec.items()}


def report(record: dict) -> None:
    units = {m["name"]: m["unit"] for m in
             CONTRACT["end_to_end"] + LAYERS["workload_metrics"]
             + CONTRACT["per_layer"]}
    n = record["samples"]["op"]
    print(f"workload={record['workload']} seed={record['seed']} "
          f"trace={int(record['trace'])} ops={record['attempted']} "
          f"failed={record['failed']}")
    rows = list(record["end_to_end"].items()) \
        + list(record["workload_metrics"].items())
    if record["trace"]:
        rows += sorted(record["per_layer"].items())
    for k, v in rows:
        note = {"setup_s": "n=1", "peak_rss_mb": "n=1, sum of VmHWM",
                "flag_f1": "deterministic per seed",
                "stored_bytes_per_point": f"median of n={n}"
                }.get(k, f"n={n}")
        print(f"  {k:34s} {v:16.6g} {units.get(k, ''):10s} {note}")
    for p in record["problems"]:
        print(f"  problem: {p}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM unwinds like an error, so the Spark processes get stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        harness.require_engine()
    except harness.CheckoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    workload_class(args.workload)
    try:
        record = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace))
    except Exception:
        traceback.print_exc()
        print("perfbench: setup or measurement failed", file=sys.stderr)
        return 1
    report(record)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": record["failed"] == 0 and record["attempted"] > 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": contract_metrics(record),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
