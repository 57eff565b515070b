"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 30 --trace 0

Workloads: extract, extract_long, roundtrip, ingest (see README.md). With
--trace 0 the run prints the end-to-end metrics; with --trace 1 it prints
the per-layer metrics of a separate traced run. The last stdout line is
one JSON object with the keys correct, attempted, failed and metrics; the
full result (samples, probes, environment) goes to perfbench/out/. The
exit code is 0 only when every output checked is correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract", "extract_long", "roundtrip", "ingest")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(REPO, "perfbench", "out"),
                    help="directory for the full result and trace files")
    return ap.parse_args(argv)


def _require_engine() -> None:
    """Fail fast, before any JVM starts, outside a full checkout."""
    for rel in ("docling_core_spark/pipeline.py",
                "goldens/sf0.01/pipeline_exports.parquet"):
        if not os.path.exists(os.path.join(REPO, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {REPO}; "
                             "run from a full checkout of the repository")


def end_to_end(w, setup_s: float, peak_rss: int, tail: dict) -> dict:
    full = statistics.median(w.full_s)
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (w.unit_docs() / full, "docs/s"),
        "scaling_eff": (statistics.median(w.quarter_s) / full, "ratio"),
        "drain_s_p50": (full, "s"),
        "drain_s_tail": (tail["value"], "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(t: dict) -> dict:
    m = {}
    for name, row in t["layers"].items():
        m[f"{name}.us_per_doc"] = (row["us_per_doc"], "us")
    m["parse.us_per_span"] = (t["parse_us_per_span"], "us")
    m["pipeline.process_doc_us_per_doc"] = (t["stage_fn_us_per_doc"], "us")
    m["pipeline.unattributed_us_per_doc"] = (t["unattributed_us_per_doc"],
                                             "us")
    st = t["stage"]
    m["stage.handoff_share"] = (st["handoff_share"], "share")
    for k, unit in (("tasks", "count"), ("failed_tasks", "count"),
                    ("task_s_p50", "s"), ("task_s_max", "s"),
                    ("spill_bytes", "bytes"), ("gc_s", "s"),
                    ("shuffle_write_bytes", "bytes")):
        m[f"stage.{k}"] = (st[k], unit)
    for k in ("trigger_ms", "add_batch_ms", "query_planning_ms",
              "latest_offset_ms", "wal_commit_ms"):
        m[f"stream.{k}"] = (t["stream"].get(k, 0.0), "ms")
    for k in ("start_s", "outside_trigger_s"):
        m[f"stream.{k}"] = (t["stream"].get(k, 0.0), "s")
    c = t["counts"]
    for k in ("spans", "items", "normalized_lists", "anomalies"):
        m[f"parse.{k}_per_doc"] = (c[k], "count")
    for k in ("markdown", "doctags", "html"):
        m[f"out.{k}_bytes_per_doc"] = (c[f"{k}_bytes"], "bytes")
    m["trace.overhead_share"] = (t["trace_overhead_share"], "share")
    return m


def run(args) -> int:
    _require_engine()
    sys.path.insert(0, REPO)
    from perfbench import host, stages, tracing

    cpus = host.ncpu()
    work = os.path.join(REPO, "perfbench", "_work", str(os.getpid()))
    os.makedirs(args.out, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    par = host.ParallelProbe()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = stages.start_spark(work, cpus, ui=bool(args.trace))
        jvm_s = time.perf_counter() - t0
        w = stages.make(args.workload, spark, args.seed, cpus, work,
                        traced=bool(args.trace))
        t0 = time.perf_counter()
        w.setup()
        # the corpus build repeats; count its median once, not its total
        warm_s = time.perf_counter() - t0 - sum(w.build_s)
        setup_s = jvm_s + warm_s + statistics.median(w.build_s)
        probes = [host.probes(par)]
        with host.PeakRss() as rss:
            w.window(args.seconds)
        probes.append(host.probes(par))
        w.check()
        layer = None
        if args.trace:
            tracer = tracing.Tracer()
            layer = w.trace(tracer, spark.sparkContext.uiWebUrl)
            tracer.write(os.path.join(args.out, f"spans-{tag}.jsonl"))
        sizes = w.sizes()
    finally:
        left = stages.stop_spark(spark) if spark is not None else []
        stages.clean(work)
    if left:
        print(f"perfbench: processes still alive: {left}", file=sys.stderr)

    if not (w.full_s and w.quarter_s):
        raise SystemExit("perfbench: no timed unit completed; see stderr")
    failed = len(w.report.failed) + w.failed_timed
    correct = failed == 0 and not left
    tail = stages.tail(w.full_s)
    metrics = (per_layer(layer) if args.trace
               else end_to_end(w, setup_s, rss.peak, tail))
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "correct": bool(correct),
        "attempted": w.attempted, "failed": failed,
        "fail_frac": failed / max(w.attempted, 1),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
        "tail": tail, "samples": {
            "full_s": w.full_s, "quarter_s": w.quarter_s,
            "build_s": w.build_s, "jvm_s": jvm_s, "warm_s": warm_s},
        "peak_rss_processes": rss.peak_procs,
        "probes": probes, "host_noisy": host.noisy(probes),
        "env": {**host.environment(), "seed": args.seed, **sizes},
        "failures": w.report.messages[:50],
    }
    if layer is not None:
        result["layers"] = layer
        with open(os.path.join(args.out, f"layers-{tag}.json"), "w") as f:
            json.dump({k: result[k] for k in ("workload", "seed", "env")}
                      | {"table": layer}, f, indent=1)
    with open(os.path.join(args.out, f"result-{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)

    for msg in w.report.messages[:20]:
        print(f"FAIL {msg}")
    print(f"{args.workload} seed={args.seed} nproc={cpus} "
          f"docs={sizes} host_noisy={result['host_noisy']}")
    for k, (v, u) in metrics.items():
        print(f"  {k:36s} {v:14.4f} {u}")
    if not args.trace:
        print(f"  drain_s_tail is the p{tail['percentile']:.0f} of "
              f"n={tail['n']}"
              " full-size units")
    print(f"  fail_frac {result['fail_frac']:.6f} "
          f"({failed} failed of {w.attempted} attempted)")
    print(json.dumps({
        "correct": result["correct"], "attempted": w.attempted,
        "failed": failed, "metrics": result["metrics"],
    }), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
