"""Same-host benchmark of the sgpt_spark engine.

    python3 hostbench/run.py --workload beir_batch --seed 1 --seconds 10 --trace 0

Runs one workload (see ``hostbench/README.md``) from the root of a
checkout of the repository and prints every metric with its unit, a
summary of the layer calls, and as the last line of standard output one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
the run also sets Spark job groups, writes a local event log, prints the
layer table and reports the per-layer metrics instead. Everything the
run writes goes under ``.hostbench_work/`` in the checkout and is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fail(msg: str) -> None:
    print(f"hostbench: {msg}", file=sys.stderr)
    sys.exit(2)


def end_to_end(res) -> dict:
    return {
        "setup_s": (res.setup_s, "s"),
        "op_p50_ms": (statistics.median(res.op_ms), "ms"),
        "peak_rss_mb": (res.peak_rss_mb, "MB"),
        "index_bytes_per_doc": (res.index_bytes_per_doc, "B"),
    }


def throughput(res) -> dict:
    """Work per second of timed wall: queries (``beir_batch``) or
    requests (``search_requests``). Printed, not bounded: it is the
    reciprocal of the mean operation time, and the mean follows the
    slowest kinds and runs more than the median does."""
    name = "batch_qps" if res.workload == "beir_batch" else "requests_per_s"
    return {name: (res.work_items / (sum(res.op_ms) / 1e3), "1/s")}


def _print_metrics(metrics: dict, width: int = 34) -> None:
    for name, (v, unit) in metrics.items():
        print(f"{name:{width}s} {v:14.4f} {unit}")


def _print_calls(spans) -> None:
    """Median and total wall of each layer call, set-up and timed apart."""
    timed_ops = {sp.op for sp in spans if sp.layer == "op"}
    calls: dict = {}
    for sp in spans:
        if sp.layer != "op":
            calls.setdefault((sp.layer, sp.name, sp.op in timed_ops), []).append(sp.dur)
    for (layer, name, timed), ds in sorted(calls.items()):
        print(f"  call {layer}.{name} [{'timed' if timed else 'set-up'}]: n={len(ds)} "
              f"median={statistics.median(ds):.3f}s total={sum(ds):.3f}s")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("sgpt_spark/session.py", "oracle/bm25_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        _fail("pyspark is not importable")

    from hostbench.workloads import CPUS, WORKLOADS, Session

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")

    # Python workers import sgpt_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".hostbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_start = time.perf_counter()
        session = Session(args.workload, work, bool(args.trace))
        try:
            res = WORKLOADS[args.workload](session, args.seed, args.seconds)
        finally:
            session.stop()
        metrics = end_to_end(res)
        print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
              f"trace {args.trace} cpus {CPUS} wall {time.perf_counter() - t_start:.1f}s")
        _print_metrics({**metrics, **throughput(res), **res.table})
        print(f"# {len(res.op_ms)} timed ops (ms): " + " ".join(f"{t:.0f}" for t in res.op_ms))
        _print_calls(session.tr.spans)
        if args.trace:
            from hostbench.layers import layer_metrics

            metrics = layer_metrics(res, session)
            _print_metrics(metrics, width=40)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for op, errs in res.failures:
        print(f"FAILED {op}: {'; '.join(errs[:3])}", file=sys.stderr)
    print(json.dumps({
        "correct": not res.failures and res.attempted > 0,
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
