"""The repository's benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload stream_dashboard --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process drives the program's
public entry points on ``local[nproc]`` with a single caller, so every
op runs to completion before the next begins.  The workload's inputs
are generated from ``--seed`` during set-up, outside timing; then ops
run for ``--seconds`` (at least the workload's ``min_ops``; at least
four in a traced run).
Outputs are checked against the generator's answers, and a failed
check counts as a failed op and makes the exit code 1.  An op that
raises ends the run with exit code 1 and no result.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` wraps the program's layer entry points (``spans.py``),
records spans on the even ops from op 2 on, and reports the per-layer
metrics plus the tracing overhead: each traced op minus the mean of the
untraced ops on either side of it (median over traced ops).  Spans are
written to ``.bench_work/<workload>/spans.jsonl``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
See NOTES.md for the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import spans as tracing  # noqa: E402

sys.path.insert(0, common.ROOT)
import bench  # noqa: E402  (the program's frozen headline query list)

WORKLOADS = ("stream_dashboard", "query_mix")

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s"}

# per-layer metric -> unit; every workload reports all of them (0 for
# a layer the workload leaves idle)
LAYER_UNITS = {
    "ingest.infer_calls": "count",
    "ingest.infer_s": "s",
    "enrich.marginal_s": "s",
    "catalog.evolve_calls": "count",
    "catalog.evolve_s": "s",
    "catalog.new_fields": "count",
    "store.write_batch_calls": "count",
    "store.write_batch_s": "s",
    "store.dead_letter_rows": "count",
    "store.files": "count",
    "store.bytes_per_event": "bytes",
    "txnlog.append_s": "s",
    "txnlog.commit_s": "s",
    "txnlog.live_files_s": "s",
    "txnlog.versions": "count",
    "streaming.process_batch_self_s": "s",
    "streaming.dup_drop_ratio": "ratio",
    "streaming.seen_state_bytes": "bytes",
    "query_service.execute_s": "s",
    "query_service.execution_ms": "ms",
    "tables.load_table_calls": "count",
    **{f"query.{name}_s": "s" for name in bench.HEADLINE},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cached_rdds": "count",
    "spark.cached_mb": "MB",
    "trace.overhead_s": "s",
}

# per-layer metric -> span name whose summed self time (``_s``) or
# call count (``_calls``) per traced op it reports
SPAN_METRICS = {
    "ingest.infer_calls": "ingest.infer",
    "ingest.infer_s": "ingest.infer",
    "catalog.evolve_calls": "catalog.evolve",
    "catalog.evolve_s": "catalog.evolve",
    "store.write_batch_calls": "store.write_batch",
    "store.write_batch_s": "store.write_batch",
    "txnlog.append_s": "txnlog.append",
    "txnlog.commit_s": "txnlog.commit",
    "txnlog.live_files_s": "txnlog.live_files",
    "streaming.process_batch_self_s": "streaming.process_batch",
    "query_service.execute_s": "query_service.execute",
    "tables.load_table_calls": "tables.load_table",
}


def load_workload(name: str, spark, work: str, seed: int):
    if name == "stream_dashboard":
        from stream_dashboard import StreamDashboard as cls
    else:
        from query_mix import QueryMix as cls
    return cls(spark, work, seed)


def layer_metrics(wl, ops: list[dict], spans: list) -> dict[str, float]:
    traced = [o for o in ops if o["traced"]]
    n = len(traced)
    selfs = tracing.self_times(spans)
    out = {k: 0.0 for k in LAYER_UNITS}
    for metric, span_name in SPAN_METRICS.items():
        mine = [s for s in spans if s.name == span_name]
        if metric.endswith("_calls"):
            out[metric] = len(mine) / n
        else:
            out[metric] = sum(selfs.get(s.id, 0.0) for s in mine) / n
    out["catalog.new_fields"] = sum(
        s.counts.get("new_fields", 0) for s in spans if s.name == "catalog.evolve"
    ) / n
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}_per_op"] = sum(o["spark"][k] for o in traced) / n
    out["spark.cached_rdds"], out["spark.cached_mb"] = ops[-1]["cached"]
    out["trace.overhead_s"] = common.tracing_overhead([o["wall"] for o in ops])
    out.update(wl.layer_metrics(ops))
    return out


def run(args) -> int:
    t_start = time.perf_counter()
    work = common.fresh_workdir(args.workload)
    spark = common.start_session()
    session_s = time.perf_counter() - t_start
    sc = spark.sparkContext
    tracer = tracing.Tracer()
    try:
        wl = load_workload(args.workload, spark, work, args.seed)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warm_s
        print(
            f"setup_s {setup_s:.3f} s: session {session_s:.3f} s, "
            f"inputs {gen_s:.3f} s, warm-up {warm_s:.3f} s", flush=True
        )
        if args.trace:
            tracing.install(tracer)
        ops: list[dict] = []
        min_ops = 4 if args.trace else wl.min_ops
        t_loop = time.perf_counter()
        while len(ops) < min_ops or time.perf_counter() - t_loop < args.seconds:
            i = len(ops)
            if not wl.has_op(i):
                break
            traced = bool(args.trace) and i > 0 and i % 2 == 0
            if traced:
                common.drain_listener_bus(sc)
                before = max(common.known_job_ids(sc), default=-1)
                tracer.begin_op(i)
            try:
                rec = wl.op(i)
            finally:
                tracer.end_op()
            rec.update(i=i, traced=traced)
            if traced:
                common.drain_listener_bus(sc)
                jobs = common.jobs_in_window(common.known_job_ids(sc), before)
                rec["spark"] = common.window_stats(sc, jobs)
                rec["cached"] = common.cached_storage(sc)
            ops.append(rec)
        if args.trace and "cached" not in ops[-1]:
            ops[-1]["cached"] = common.cached_storage(sc)
        wl.final_checks(ops)
        checks = wl.checks
        bad = [c for c in checks if not c[1]]
        for name, _, detail in bad:
            print(f"CHECK FAILED {name}: {detail}", flush=True)
        attempted = len(ops) + len(checks)
        failed = len(bad)
        if args.trace:
            values = layer_metrics(wl, ops, tracer.spans)
            units = LAYER_UNITS
            tracer.dump(os.path.join(work, "spans.jsonl"))
        else:
            values = {"setup_s": setup_s, **wl.end_to_end(ops)}
            units = END_TO_END_UNITS
        for line in wl.report(ops):
            print(line, flush=True)
        print(f"ops {len(ops)} attempted {attempted} failed {failed} checks {len(checks)}", flush=True)
    finally:
        common.stop_session(spark)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())
