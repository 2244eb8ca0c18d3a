"""Engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the repository root. With --trace 0 the last stdout line carries
the end-to-end metrics; with --trace 1 it carries the per-layer metrics of
a traced run. The line before it is a report: host fingerprint, sample
counts, and the gate's first errors. Any failed or wrong operation makes
the exit code 1. Everything the run writes stays under .bench_work/."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (name, unit, better): every metric an untraced run reports
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("build_docs_per_s", "docs/s", "higher"),
    ("index_bytes_per_text_byte", "ratio", "lower"),
    ("query_p50_ms", "ms", "lower"),
    ("local_batch_qps", "queries/s", "higher"),
    ("spark_batch_qps", "queries/s", "higher"),
)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _percentile(xs: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(xs, p)) if xs else 0.0


def end_to_end(r) -> dict[str, float]:
    s = r.samples
    return {
        "setup_s": r.setup_s,
        "build_docs_per_s": _median(s.get("build_docs_per_s", [])),
        "index_bytes_per_text_byte": r.figures.get("index_bytes_per_text_byte", 0.0),
        "query_p50_ms": _percentile(s.get("query_ms", []), 50),
        "local_batch_qps": _median(s.get("local_batch_qps", [])),
        "spark_batch_qps": _median(s.get("spark_batch_qps", [])),
    }


def trace_overhead(window_ops: list[tuple[str, float, bool]]) -> float:
    """Traced over untraced time of the window's operations: per kind of
    operation with both traced and untraced samples, the traced samples'
    total against the untraced mean times the traced count."""
    traced_t = untraced_t = 0.0
    for kind in {k for k, _, _ in window_ops}:
        on = [dt for k, dt, t in window_ops if k == kind and t]
        off = [dt for k, dt, t in window_ops if k == kind and not t]
        if on and off:
            traced_t += sum(on)
            untraced_t += len(on) * statistics.mean(off)
    return traced_t / untraced_t if untraced_t else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's small inputs")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import host, workloads
    from perfbench.trace import PER_LAYER

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    results = os.path.join(ROOT, ".bench_work", "results")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (spark-submit's launcher too) keeps its temp
    # and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sizes = workloads.TINY if args.size == "tiny" else workloads.FULL

    load_start = host.load1()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = host.start_spark(work, ui=bool(args.trace))
            session_s = time.perf_counter() - t0
            try:
                r = workloads.Run(spark, work, args.seed, args.seconds, sizes, bool(args.trace))
                r.setup_s = session_s
                workloads.WORKLOADS[args.workload](r)
                layers = None
                if r.tracer is not None:
                    r.tracer.resolve()
                    layers = r.tracer.layer_metrics({
                        "session.start_s": session_s,
                        "trace.overhead": trace_overhead(r.window_ops),
                        **{k: r.figures.get(k, 0.0) for k in (
                            "codec.bytes_per_posting", "build.n_postings", "build.row_groups",
                            "delete.tombstones_live", "compact.bytes_rewritten",
                        )},
                    })
                    r.tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
                fp = host.fingerprint(ROOT, spark, load_start)
            finally:
                host.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values, schema = (end_to_end(r), END_TO_END) if layers is None else (layers, PER_LAYER)
    metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in schema}
    g = r.gate
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": fp,
        "samples": {k: len(v) for k, v in sorted(r.samples.items())},
        "phase_s": r.phase_seconds(),
        # measured but unbounded: ingest_serve's write paths, and figures
        # whose run-to-run spread on a shared 4-core host is wider than any
        # bound a regression check could use
        "query_p95_ms": _percentile(r.samples.get("query_ms", []), 95),
        "delete_p50_ms": _median(r.samples.get("delete_ms", [])),
        "fresh_ms": _median(r.samples.get("fresh_ms", [])),
        "peak_rss_mb": rss.peak_mb,
        "compact_s": _median(r.samples.get("compact_s", [])),
        "failed_op_ratio": g.failed / max(g.attempted, 1),
        "errors": g.errors,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"report": report, "metrics": metrics}, f, indent=1)
    table = [(name, values[name], unit) for name, unit, _ in schema]
    if layers is None:
        table += [(k, report[k], u) for k, u in (
            ("query_p95_ms", "ms"), ("delete_p50_ms", "ms"), ("fresh_ms", "ms"), ("peak_rss_mb", "MB"),
            ("compact_s", "s"), ("failed_op_ratio", "ratio"),
        )]
    width = max(len(n) for n, _, _ in table)
    for name, value, unit in table:
        print(f"{name:<{width}}  {value:>14.4f}  {unit}")
    print(json.dumps({"report": report}))
    ok = g.failed == 0
    print(json.dumps({
        "correct": ok, "attempted": g.attempted, "failed": g.failed, "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
