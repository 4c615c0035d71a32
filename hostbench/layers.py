"""Per-layer metrics of a traced run.

Two sources, both recorded from the benchmark's own files:

- spans (``trace.Tracer``): wall time of each call into a layer, and
  each timed operation's wall, so the self times of its layer spans plus
  the benchmark's own glue between them add up to the operation's wall;
- the Spark event log, rolled up by job group ``<workload>:<op>:<layer>``
  (``eventlog.rollup``): jobs, tasks, and SQL operator metrics.

Every workload reports every metric in ``PER_LAYER``; a layer that the
workload does not drive reads 0. Metrics "per op" are divided by the
number of timed operations (query batches or requests).
"""

from __future__ import annotations

from hostbench import eventlog as E
from hostbench.inputs import REQUEST_KINDS
from hostbench.workloads import median as _median

MB = 2**20

# name -> unit; the order is the order of the printed table
PER_LAYER = {
    "session.start_s": "s",
    "indexer.build.wall_s": "s",
    "indexer.encode.python_s": "s",
    "indexer.encode.arrow_in_mb": "MB",
    "indexer.encode.arrow_out_mb": "MB",
    "indexer.write.mb": "MB",
    "indexer.stats.wall_s": "s",
    "indexer.segments_after_append": "count",
    "indexer.segments_after_compact": "count",
    "indexer.compact.wall_s": "s",
    "indexer.compact.shuffle_mb": "MB",
    "indexer.compact.python_s": "s",
    "incremental.append.wall_s": "s",
    "incremental.append.jobs": "count",
    "index_search.call_s": "s",
    "index_search.collect_s": "s",
    "index_search.scan.mb_read": "MB",
    "index_search.kernel.python_s": "s",
    "index_search.kernel.arrow_in_mb": "MB",
    "index_search.kernel.arrow_out_mb": "MB",
    "index_search.kernel.rows_out": "count",
    "index_search.topk.kept_ratio": "ratio",
    "index_search.exchange.shuffle_mb": "MB",
    "index_search.exchange.fetch_wait_s": "s",
    "metrics.eval_s": "s",
    "request.call_s": "s",
    "request.jobs": "count",
    "request.driver_gap_s": "s",
    **{f"request.{k}.p50_ms": "ms" for k in REQUEST_KINDS},
    "aggs.collect_s": "s",
    "aggs.jobs": "count",
    "request.held_rdds": "count",
    "request.held_storage_mb": "MB",
    "request.held_storage_slope_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "spark.python_start_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.op_p50_ms": "ms",
    "trace.unaccounted_frac": "ratio",
}


def _slope(ys) -> float:
    """Least-squares slope of ys against 0..n-1."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


class Layers:
    """Spans and event-log groups of one traced run, with lookups."""

    def __init__(self, workload: str, spans, groups: dict):
        self.workload = workload
        self.spans = spans
        self.groups = groups
        self.timed = [sp.op for sp in spans if sp.layer == "op"]

    def calls(self, layer: str, name: str | None = None, ops=None) -> list[float]:
        return [sp.dur for sp in self.spans
                if sp.layer == layer and (name is None or sp.name == name)
                and (ops is None or sp.op in ops)]

    def group(self, op: str, layer: str) -> E.Group:
        return self.groups.get(f"{self.workload}:{op}:{layer}", E.Group())

    def sum(self, ops, layer: str | None, fn) -> float:
        """Sum ``fn(group)`` over the groups of ``ops`` (all layers when
        ``layer`` is None)."""
        total = 0.0
        for gid, g in self.groups.items():
            parts = gid.split(":")
            if len(parts) == 3 and parts[0] == self.workload and parts[1] in ops \
                    and (layer is None or parts[2] == layer):
                total += fn(g)
        return total


def _py(metric: str):
    return lambda g: g.sql.get(("python", metric), 0.0)


def layer_metrics(res, session) -> dict:
    """-> {name: (value, unit)} for every metric in PER_LAYER; prints the
    per-workload layer table."""
    path = session.eventlog()
    groups = E.rollup(path) if path else {}
    L = Layers(res.workload, session.tr.spans, groups)
    timed = L.timed
    n_ops = max(len(timed), 1)
    ops_spans = [sp for sp in L.spans if sp.layer == "op"]
    builds = [op for op in {sp.op for sp in L.spans} if op.startswith("build")]
    appends = [op for op in {sp.op for sp in L.spans} if op.startswith("append")]
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}

    m["session.start_s"] = session.start_s
    m["indexer.build.wall_s"] = _median(
        L.calls("indexer", "build_index", builds) + L.calls("indexer", "build_positional_index", builds))
    if builds:
        nb = len(builds)
        m["indexer.encode.python_s"] = L.sum(builds, "indexer", _py("time to run Python workers")) / nb / 1e3
        m["indexer.encode.arrow_in_mb"] = L.sum(builds, "indexer", _py("data sent to Python workers")) / nb / MB
        m["indexer.encode.arrow_out_mb"] = L.sum(builds, "indexer", _py("data returned from Python workers")) / nb / MB
        m["indexer.write.mb"] = L.sum(builds, "indexer", lambda g: g.output_bytes) / nb / MB

        def stats_ms(g):
            py_end = max((x.end_ms for x in g.execs if x.python), default=None)
            if py_end is None:
                return 0.0
            return sum(x.end_ms - x.start_ms for x in g.execs if not x.python and x.start_ms >= py_end)

        m["indexer.stats.wall_s"] = L.sum(builds, "indexer", stats_ms) / nb / 1e3
    segs = res.extra.get("segments") or []
    if segs:
        m["indexer.segments_after_append"] = max(segs[:-1])
        m["indexer.segments_after_compact"] = segs[-1]
    m["indexer.compact.wall_s"] = sum(L.calls("indexer", "compact_index"))
    m["indexer.compact.shuffle_mb"] = L.sum(["compact"], "indexer", lambda g: g.shuffle_write_bytes) / MB
    m["indexer.compact.python_s"] = L.sum(["compact"], "indexer", _py("time to run Python workers")) / 1e3
    m["incremental.append.wall_s"] = _median(L.calls("incremental", "append_to_index"))
    if appends:
        m["incremental.append.jobs"] = L.sum(appends, "incremental", lambda g: g.jobs) / len(appends)

    # query layers, over the timed operations
    m["index_search.call_s"] = _median(L.calls("index_search", "search_index", timed))
    m["index_search.collect_s"] = _median(
        L.calls("index_search", "collect", timed) + L.calls("index_search", "collect_hits", timed))
    per_op = lambda fn: L.sum(timed, "index_search", fn) / n_ops  # noqa: E731
    m["index_search.scan.mb_read"] = per_op(lambda g: g.sql.get(("scan", "size of files read"), 0.0)) / MB
    m["index_search.kernel.python_s"] = per_op(_py("time to run Python workers")) / 1e3
    m["index_search.kernel.arrow_in_mb"] = per_op(_py("data sent to Python workers")) / MB
    m["index_search.kernel.arrow_out_mb"] = per_op(_py("data returned from Python workers")) / MB
    m["index_search.kernel.rows_out"] = per_op(_py("number of output rows"))
    if m["index_search.kernel.rows_out"]:
        m["index_search.topk.kept_ratio"] = res.extra.get("kept_rows", 0) / n_ops / m["index_search.kernel.rows_out"]
    m["index_search.exchange.shuffle_mb"] = per_op(lambda g: g.shuffle_write_bytes) / MB
    m["index_search.exchange.fetch_wait_s"] = per_op(
        lambda g: g.sql.get(("exchange", "fetch wait time"), 0.0)) / 1e3
    m["metrics.eval_s"] = _median(L.calls("metrics", None, timed))

    # request front door
    if res.workload == "search_requests":
        m["request.call_s"] = _median(L.calls("request", "search_request", timed))
        m["request.jobs"] = L.sum(timed, None, lambda g: g.jobs) / n_ops
        gaps = []
        for sp in ops_spans:
            jobs = []
            for layer in {s2.layer for s2 in L.spans if s2.op == sp.op}:
                jobs += L.group(sp.op, layer).job_intervals
            gaps.append(sp.dur - E.union_ms(jobs) / 1e3)
        m["request.driver_gap_s"] = _median(gaps)
        for kind, ms in res.extra.get("per_kind_ms", {}).items():
            m[f"request.{kind}.p50_ms"] = _median(ms)
        m["aggs.collect_s"] = _median(L.calls("aggs", None, timed))
        n_frames = len(L.calls("aggs", None, timed))
        if n_frames:
            m["aggs.jobs"] = L.sum(timed, "aggs", lambda g: g.jobs) / n_frames
        held = res.extra.get("held") or []
        if held:
            m["request.held_rdds"] = held[-1][0]
            m["request.held_storage_mb"] = held[-1][1]
            m["request.held_storage_slope_mb"] = _slope([h[1] for h in held])

    # the shared runtime, per timed operation
    spark = lambda fn: L.sum(timed, None, fn) / n_ops  # noqa: E731
    m["spark.jobs"] = spark(lambda g: g.jobs)
    m["spark.tasks"] = spark(lambda g: g.tasks)
    m["spark.task_run_s"] = spark(lambda g: g.task_run_ms) / 1e3
    m["spark.gc_s"] = spark(lambda g: g.gc_ms) / 1e3
    m["spark.python_start_s"] = spark(_py("time to start Python workers")) / 1e3
    m["spark.shuffle_write_mb"] = spark(lambda g: g.shuffle_write_bytes) / MB
    m["spark.spill_mb"] = spark(lambda g: g.spill_bytes) / MB

    # accounting: each op's wall = its layer spans' self times + glue
    m["trace.op_p50_ms"] = _median([sp.dur * 1e3 for sp in ops_spans])
    st = session.tr.self_times()
    m["trace.unaccounted_frac"] = max(
        (st.get((sp.op, "op"), 0.0) / sp.dur for sp in ops_spans), default=0.0)

    table: dict[str, float] = {}
    for (op, layer), t in st.items():
        if op in timed:
            key = "bench (glue)" if layer == "op" else layer
            table[key] = table.get(key, 0.0) + t
    wall = sum(sp.dur for sp in ops_spans)
    print(f"# layer table: {res.workload}, {len(ops_spans)} timed ops, {wall:.3f}s wall")
    for layer, t in sorted(table.items(), key=lambda kv: -kv[1]):
        print(f"#   {layer:16s} {t:9.3f}s {100 * t / wall:6.1f}%")
    print(f"#   {'sum':16s} {sum(table.values()):9.3f}s "
          f"{100 * sum(table.values()) / wall:6.1f}% of op wall")
    ungrouped = groups.get("ungrouped")
    if ungrouped and ungrouped.jobs:
        print(f"#   jobs outside any layer group: {ungrouped.jobs}")
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}
