"""The benchmark's workloads: ``beir_batch`` and ``search_requests``.

Each drives the engine only through public functions of ``sgpt_spark``
modules, on ``local[4]`` from one process with one client. Every call
into an engine module, and every Spark action on a frame one returned,
runs inside a ``Tracer`` span named after the layer (the repo module)
it enters. A workload returns a ``Result``: end-to-end numbers, the
workload-specific figures, and the per-operation correctness verdicts, which
are checked after the timed loop so checking is excluded from every
timing.

Set-up is timed as a whole, except that its repeated part (the index
builds, run ``SETUP_REPS`` times into fresh directories) counts once, at
its median.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from hostbench import checks as C
from hostbench import inputs as I
from hostbench.trace import Tracer

CPUS = 4
K_VALUES = (1, 3, 5, 10, 100, 1000)
SETUP_REPS = 2

# beir_batch: corpus, timed query batches, and the ingest steps of set-up
BEIR_DOCS = 6_000
BEIR_SEGMENTS = 4
BATCH_QUERIES = 20
CHECK_PER_BATCH = 2
WARMUP_BATCHES = 3
MAX_BATCHES = 40  # warm-up included; bounds a run at ~80 s of batches
APPENDS = 1
APPEND_DOCS = 200
COMPACT_TO = 2
FRESH_QUERIES = 20

# search_requests
REQ_DOCS = 2_000
REQ_SEGMENTS = 4
REQ_SIZE = 10
MAX_ROUNDS = 20  # bounds a run at ~4 min of requests

# request kind -> layer of the operator family its hits come from
REQUEST_FAMILY = {
    "match": "index_search", "bool": "boolquery", "match_aggs": "index_search",
    "query_string": "luceneqs", "match_phrase": "positions",
    "multi_match": "crossfields", "sort": "fieldsort",
}


@dataclass
class Result:
    workload: str
    setup_s: float
    op_ms: list  # wall of each timed operation
    work_items: float  # queries or requests completed in the timed loop
    peak_rss_mb: float
    index_bytes_per_doc: float  # on disk, of the index the timed loop queries
    failures: list = field(default_factory=list)  # (op, [errors])
    attempted: int = 0
    table: dict = field(default_factory=dict)  # workload-specific figures: name -> (value, unit)
    extra: dict = field(default_factory=dict)  # inputs of the per-layer metrics


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _rows(pdf) -> list[tuple]:
    score = pdf["score"].tolist() if "score" in pdf else [0.0] * len(pdf)
    return list(zip(pdf["qid"].tolist(), pdf["doc_id"].tolist(), score, pdf["rank"].tolist()))


def _by_qid(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[0], []).append(r)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM (peak resident set) of the JVM and its descendants
    (the Python worker daemon and its workers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fp:
                    parent[int(name)] = int(fp.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fp:
                kb += sum(int(line.split()[1]) for line in fp if line.startswith("VmHWM:"))
        except OSError:
            continue
    return kb / 1024.0


class Session:
    """The Spark session of one run, its work directory and its tracer."""

    def __init__(self, workload: str, work: str, trace: bool):
        self.work = work
        self.tr = Tracer(workload, trace)
        self.eventlog_dir = os.path.join(work, "eventlog")
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Dderby.system.home={work}",
        }
        if trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.eventlog_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from sgpt_spark.session import get_spark

        self.t0 = time.perf_counter()
        with self.tr.span("session", "get_spark"):
            self.spark = get_spark(master=f"local[{CPUS}]", app_name="hostbench",
                                   shuffle_partitions=CPUS, extra_conf=conf)
        self.start_s = time.perf_counter() - self.t0
        self.sc = self.spark.sparkContext
        self.tr.sc = self.sc
        self.jvm_pid = self.sc._gateway.proc.pid

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_s(self, reps: list[float]) -> float:
        """Set-up wall so far, with the repeated part counted at its median."""
        return time.perf_counter() - self.t0 - sum(reps) + median(reps)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def eventlog(self) -> str | None:
        if not os.path.isdir(self.eventlog_dir):
            return None
        files = sorted(os.listdir(self.eventlog_dir))
        return os.path.join(self.eventlog_dir, files[-1]) if files else None


def _docs_frame(spark, cols: dict, schema: str, segments: int):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(cols), schema).repartitionByRange(segments, "doc_id")


def _repeat(s: Session, build) -> list[float]:
    """Run ``build(rep)`` SETUP_REPS times; each rep writes fresh
    directories. Returns each rep's wall time."""
    times = []
    for rep in range(SETUP_REPS):
        s.tr.op = f"build{rep}"
        t0 = time.perf_counter()
        build(rep)
        times.append(time.perf_counter() - t0)
    s.tr.op = "setup"
    return times


def _index_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def _meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as fp:
        return json.load(fp)


# --------------------------------------------------------------- beir_batch

def _ingest_steps(s: "Session", path: str, batches, queries) -> tuple[list, C.CompactStep]:
    """Appends, each followed by a read-after-write batch (``queries``
    plus one query per marker), then a compaction and the same batch
    again."""
    from sgpt_spark.operators.index_search import search_index
    from sgpt_spark.operators.indexer import compact_index, read_index, read_term_stats
    from sgpt_spark.streaming.incremental import append_to_index

    spark, tr = s.spark, s.tr

    def query(qs):
        with tr.span("indexer", "read_index"):
            postings, meta = read_index(spark, path)
            ts = read_term_stats(spark, path)
        with tr.span("index_search", "search_index"):
            run = search_index(spark, postings, meta, qs, k=10, term_stats=ts)
        with tr.span("index_search", "collect"):
            return _rows(run.toPandas())

    def segments() -> int:
        return spark.read.parquet(f"{path}/postings").select("segment").distinct().count()

    steps, rows, mq = [], [], []
    for b, (frame, markers, n_new) in enumerate(batches):
        before = _meta(path)
        mq = [(10**7 + j, m) for m, j in sorted(markers.items(), key=lambda kv: kv[1])[:FRESH_QUERIES]]
        tr.op = f"append{b}"
        t0 = time.perf_counter()
        with tr.span("incremental", "append_to_index"):
            append_to_index(spark, frame, path)
        t1 = time.perf_counter()
        rows = query(queries + mq)
        steps.append(C.AppendStep(t1 - t0, time.perf_counter() - t1, n_new, before, _meta(path),
                                  rows, mq, markers, segments() if tr.enabled else 0))
    tr.op = "compact"
    t0 = time.perf_counter()
    with tr.span("indexer", "compact_index"):
        n_seg = compact_index(spark, path, COMPACT_TO)
    t_cmp = time.perf_counter() - t0
    post = query(queries + mq)
    return steps, C.CompactStep(t_cmp, n_seg, COMPACT_TO, rows, post, _index_bytes(path), _meta(path))


def beir_batch(s: Session, seed: int, seconds: float) -> Result:
    """Set-up: index the corpus (repeated), then append a batch with
    read-after-write queries and compact. Timed: batches of fresh
    queries through ``search_index(k=1000)``, collected and scored with
    ``mean_metrics_at`` at every cutoff."""
    from sgpt_spark.functions.analyzer import analyze_py
    from sgpt_spark.operators.index_search import search_index
    from sgpt_spark.operators.indexer import build_index, read_index, read_term_stats
    from sgpt_spark.operators.metrics import mean_metrics_at

    spark, tr = s.spark, s.tr
    k = max(K_VALUES)
    rng = np.random.default_rng(seed)
    corpus = I.make_corpus(rng, BEIR_DOCS)
    pool, qrels = I.make_queries(rng, corpus, BATCH_QUERIES * MAX_BATCHES)
    fresh, _ = I.make_queries(rng, corpus, FRESH_QUERIES, first_qid=10**6)
    docs = _docs_frame(spark, {"doc_id": np.arange(len(corpus)), "text": corpus.text},
                       "doc_id long, text string", BEIR_SEGMENTS)
    batches = []
    for b in range(APPENDS):
        pages, markers = I.make_append_batch(rng, seed, b, APPEND_DOCS, first_id=b * APPEND_DOCS)
        frame = spark.createDataFrame(pages, "url string, text string").coalesce(1)
        batches.append((frame, markers, len(markers), pages))
    qrels_df = spark.createDataFrame(
        [(q, d, 1) for q, rel in qrels.items() for d in rel], "qid long, doc_id long, relevance int")

    def build(rep):
        with tr.span("indexer", "build_index"):
            build_index(docs, s.path(f"index{rep}"), py_tokenizer=analyze_py)

    reps = _repeat(s, build)
    n_built = _meta(s.path("index0"))["n_docs"]
    appends, compact = _ingest_steps(s, s.path("index0"), [b[:3] for b in batches], fresh)
    tr.op = "setup"
    with tr.span("indexer", "read_index"):
        postings, meta = read_index(spark, s.path("index0"))
        tstats = read_term_stats(spark, s.path("index0"))


    def one_batch(b: int):
        qs = pool[b * BATCH_QUERIES:(b + 1) * BATCH_QUERIES]
        lo, hi = qs[0][0], qs[-1][0]
        with tr.span("index_search", "search_index"):
            run = search_index(spark, postings, meta, qs, k=k, term_stats=tstats)
        with tr.span("index_search", "collect"):
            pdf = run.toPandas()
        with tr.span("metrics", "mean_metrics_at"):
            got = mean_metrics_at(
                spark.createDataFrame(pdf),
                qrels_df.filter((qrels_df.qid >= lo) & (qrels_df.qid <= hi)),
                list(K_VALUES),
            ).collect()
        return qs, pdf, got

    tr.op = "warmup"
    for b in range(WARMUP_BATCHES):
        one_batch(b)
    setup_s = s.setup_s(reps)

    done = []
    deadline = time.perf_counter() + seconds
    for b in range(WARMUP_BATCHES, MAX_BATCHES):
        if time.perf_counter() >= deadline:
            break
        t0 = time.perf_counter()
        with tr.operation(f"b{b}"):
            out = one_batch(b)
        done.append((b, time.perf_counter() - t0, out))
    rss = peak_rss_mb(s.jvm_pid)

    # ---- checks (untimed); the oracle corpus includes the appended docs
    texts = corpus.text_by_id()
    for st, (_, _, _, pages) in zip(appends, batches):
        texts.update({I.pad_id(st.before["next_doc_id"] + j): t for j, (_, t) in enumerate(pages)})
    crng = np.random.default_rng(seed + 1)
    sample = {}
    for b, _, (qs, _, _) in done:
        for j in crng.choice(len(qs), size=CHECK_PER_BATCH, replace=False):
            sample[qs[int(j)][0]] = (b, qs[int(j)][1])
    oracle = C.oracle_batch(texts, {q: t for q, (_, t) in sample.items()}, k=k)
    failures = [(f"append{i}", e) for i, st in enumerate(appends) if (e := C.append_errors(st))]
    if errs := C.compact_errors(compact):
        failures.append(("compact", errs))
    for b, _, (qs, pdf, got) in done:
        errs = C.batch_errors(
            qs, _by_qid(_rows(pdf)), k, {q: oracle[q] for q, (bb, _) in sample.items() if bb == b},
            {q: qrels[q] for q, _ in qs}, K_VALUES, {r["k"]: r.asDict() for r in got})
        if errs:
            failures.append((f"b{b}", errs))

    op_s = [t for _, t, _ in done]
    build_s = [sp.dur for sp in tr.spans if sp.name == "build_index"]
    return Result(
        "beir_batch", setup_s, [t * 1e3 for t in op_s], len(done) * BATCH_QUERIES, rss,
        compact.index_bytes / compact.meta["n_docs"], failures, len(done) + len(appends) + 1,
        table={
            "batches": (len(done), "count"),
            "build_docs_per_s": (n_built / median(build_s), "1/s"),
            "append_docs_per_s": (sum(st.n_new for st in appends) / sum(st.wall_s for st in appends), "1/s"),
            "fresh_query_p50_s": (median([st.query_s for st in appends]), "s"),
            "compact_s": (compact.wall_s, "s"),
        },
        extra={"kept_rows": sum(len(pdf) for _, _, (_, pdf, _) in done),
               "segments": [st.segments for st in appends] + [compact.segments]},
    )


# ---------------------------------------------------------- search_requests

def _held_storage(sc) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory and on disk)."""
    jsc = sc._jsc
    mb = sum((i.memSize() + i.diskSize()) / 2**20 for i in jsc.sc().getRDDStorageInfo())
    return jsc.getPersistentRDDs().size(), mb


def _release_persisted(sc) -> None:
    """Unpersist what set-up left cached (the staged corpus, build
    leftovers), so the request loop starts from nothing held."""
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def search_requests(s: Session, seed: int, seconds: float) -> Result:
    """Set-up: a positional index with segment-aligned docvalues
    (repeated) and a title+text multifield index. Timed: a closed loop, one
    client, of ``_search`` bodies through ``search_request`` in whole
    rounds of one body per kind; a request is timed until its hits and
    every aggregation frame are collected."""
    from pyspark.sql import functions as F

    from sgpt_spark.functions.analyzer import analyze_py
    from sgpt_spark.operators.indexer import build_multifield_index, read_docvalues, write_docvalues
    from sgpt_spark.operators.positions import build_positional_index
    from sgpt_spark.operators.request import search_request

    spark, tr = s.spark, s.tr
    rng = np.random.default_rng(seed)
    corpus = I.make_corpus(rng, REQ_DOCS)
    keep = [j for j, t in enumerate(corpus.text) if t]
    body_text = [" ".join(I.VOCAB[c] for c in b) for b in corpus.body]
    docs = _docs_frame(
        spark,
        {"doc_id": np.asarray(keep, dtype=np.int64),
         "title": [corpus.title[j] for j in keep],
         "body": [body_text[j] for j in keep],
         "text": [corpus.text[j] for j in keep],
         "lang": [corpus.lang[j] for j in keep],
         "warc_ts": [corpus.warc_ts[j] for j in keep],
         "n_terms": [corpus.n_terms(j) for j in keep]},
        "doc_id long, title string, body string, text string, lang string, "
        "warc_ts timestamp, n_terms long",
        REQ_SEGMENTS,
    )
    rounds = [I.make_request_rounds(rng, corpus, 1, size=REQ_SIZE) for _ in range(MAX_ROUNDS)]
    # warm-up: the kinds whose first call costs over a second more than
    # later ones (the other kinds pay ~0.1 s once, inside the timed loop)
    warm = [(k, I.make_request(rng, corpus, k, REQ_SIZE)) for k in ("match_aggs", "query_string")]

    def build(rep):
        # segment == the staged partition for both the positional build
        # and the docvalues, as build_postings_with_docvalues pins it
        staged = docs.withColumn("_seg", F.spark_partition_id()).localCheckpoint(eager=True)
        pos = s.path(f"pos{rep}")
        with tr.span("indexer", "build_positional_index"):
            build_positional_index(staged.select("doc_id", "text"), pos, py_tokenizer=analyze_py)
        with tr.span("indexer", "write_docvalues"):
            write_docvalues(staged.select(F.col("_seg").alias("segment"), "doc_id", "lang",
                                          "warc_ts", "n_terms"), pos)
        staged.unpersist()

    reps = _repeat(s, build)
    with tr.span("indexer", "build_multifield_index"):
        build_multifield_index(
            docs.select("doc_id", "title", F.col("body").alias("text")), s.path("mf0"),
            fields=("title", "text"), segment_size=-(-len(keep) // REQ_SEGMENTS),
            py_tokenizer=analyze_py,
        )
    with tr.span("indexer", "read_docvalues"):
        dv = read_docvalues(spark, s.path("pos0"))

    def one_request(i: int, kind: str, body: dict):
        path = s.path("mf0") if kind == "multi_match" else s.path("pos0")
        with tr.span("request", "search_request"):
            resp = search_request(spark, path, body, qid=i, docvalues=dv)
        with tr.span(REQUEST_FAMILY[kind], "collect_hits"):
            hits = resp["hits"].toPandas()
        aggs = {}
        for name, frame in resp.get("aggregations", {}).items():
            with tr.span("aggs", name):
                aggs[name] = frame.toPandas()
        return hits, aggs

    tr.op = "warmup"
    for j, (kind, body) in enumerate(warm):
        one_request(-1 - j, kind, body)
    setup_s = s.setup_s(reps)

    _release_persisted(s.sc)
    done, held = [], []
    deadline = time.perf_counter() + seconds
    i = 0
    for rnd in rounds:
        if time.perf_counter() >= deadline:
            break
        for kind, body in rnd:
            t0 = time.perf_counter()
            with tr.operation(f"r{i}"):
                out = one_request(i, kind, body)
            done.append((i, kind, body, time.perf_counter() - t0, out))
            if tr.enabled:
                held.append(_held_storage(s.sc))
            i += 1
    rss = peak_rss_mb(s.jvm_pid)

    # ---- checks (untimed)
    oracle = C.RequestOracle({
        I.pad_id(j): (corpus.title[j], body_text[j], corpus.lang[j], corpus.warc_ts[j], corpus.n_terms(j))
        for j in keep})
    oracle.prepare_multi_match(
        {i: b["query"]["multi_match"]["query"] for i, k, b, _, _ in done if k == "multi_match"}, REQ_SIZE)
    failures = []
    for i, kind, body, _, (hits, aggs) in done:
        buckets = {}
        if "langs" in aggs:
            buckets["langs"] = dict(zip(aggs["langs"]["value"], aggs["langs"]["doc_count"].astype(int)))
        if "days" in aggs:
            buckets["days"] = {C.day_key(b): int(c) for b, c in
                               zip(aggs["days"]["bucket"], aggs["days"]["doc_count"]) if c}
        if errs := oracle.errors(i, kind, body, _rows(hits), buckets, REQ_SIZE):
            failures.append((f"r{i}", errs))

    op_s = [t for _, _, _, t, _ in done]
    per_kind: dict = {}
    for _, kind, _, t, _ in done:
        per_kind.setdefault(kind, []).append(t * 1e3)
    table = {"requests": (len(done), "count")}
    if len(op_s) >= 100:  # ten samples beyond the p90
        table["request_p90_ms"] = (statistics.quantiles(op_s, n=10)[-1] * 1e3, "ms")
    return Result(
        "search_requests", setup_s, [t * 1e3 for t in op_s], len(done), rss,
        _index_bytes(s.path("pos0")) / _meta(s.path("pos0"))["n_docs"], failures, len(done), table=table,
        extra={"per_kind_ms": per_kind, "held": held,
               "kept_rows": sum(len(h) for _, k, _, _, (h, _) in done
                                if REQUEST_FAMILY[k] == "index_search")},
    )


WORKLOADS = {"beir_batch": beir_batch, "search_requests": search_requests}
