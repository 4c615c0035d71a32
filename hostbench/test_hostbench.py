"""The benchmark's own tests: seeded inputs, the correctness checkers
(including that a tampered result counts as a failure), the span
accounting and the event-log rollup. No Spark needed:

    python3 -m pytest hostbench/test_hostbench.py -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from collections import Counter

import numpy as np
import pytest

from hostbench import checks as C
from hostbench import eventlog as E
from hostbench import inputs as I
from hostbench.trace import Tracer
from oracle import bm25_oracle as O


def _digest(obj) -> str:
    """sha256 of the JSON form of generated inputs."""
    def default(o):
        if isinstance(o, np.ndarray):
            return o.tolist()
        if isinstance(o, set):
            return sorted(o)
        if isinstance(o, dt.datetime):
            return o.isoformat()
        if isinstance(o, I.Corpus):
            return o.__dict__
        raise TypeError(type(o))

    return hashlib.sha256(json.dumps(obj, default=default, sort_keys=True).encode()).hexdigest()


def _inputs(seed: int) -> str:
    rng = np.random.default_rng(seed)
    corpus = I.make_corpus(rng, 1500)
    queries, qrels = I.make_queries(rng, corpus, 50)
    rounds = I.make_request_rounds(rng, corpus, 2)
    batch = I.make_append_batch(rng, seed, 0, 100, first_id=0)
    return _digest([corpus, queries, qrels, rounds, batch])


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    assert _inputs(7) != _inputs(8)


def test_corpus_shape():
    c = I.make_corpus(np.random.default_rng(1), 3000)
    lens = [len(b) for b in c.body]
    assert sum(n == 0 for n in lens) == 3  # 1/1000 empty
    assert min(n for n in lens if n) >= I.MIN_LEN and max(lens) <= I.MAX_LEN
    assert c.lang.count("en") == 2700 and c.lang.count("fr") == 60
    assert all(t.split(" ") == O.tokenize_ws(t) for t in c.text if t)


@pytest.fixture(scope="module")
def small():
    rng = np.random.default_rng(3)
    corpus = I.make_corpus(rng, 400)
    queries, qrels = I.make_queries(rng, corpus, 6)
    return corpus, queries, qrels


def _engine_rows(oracle_hits: dict) -> dict:
    """Oracle output in the engine's shape: (qid, int doc_id, score, rank)."""
    return {q: [(q, int(d), s, r) for d, s, r in hits] for q, hits in oracle_hits.items()}


def _metrics(rows: dict, qrels: dict, k_values) -> dict:
    fns = {"ndcg": O.ndcg_at_k, "map": O.map_at_k, "mrr": O.mrr_at_k,
           "precision": O.precision_at_k, "recall": O.recall_at_k}
    out = {}
    for k in k_values:
        out[k] = {}
        for name, fn in fns.items():
            vals = [fn([I.pad_id(r[1]) for r in rows.get(q, [])], {I.pad_id(d) for d in rel}, k)
                    for q, rel in qrels.items()]
            out[k][name] = round(sum(vals) / len(vals), 6)
    return out


def test_batch_check_passes_oracle_rows_and_fails_tampered(small):
    corpus, queries, qrels = small
    k, kv = 50, (1, 10, 50)
    want = C.oracle_batch(corpus.text_by_id(), dict(queries), k)
    rows = _engine_rows(want)
    got = _metrics(rows, qrels, kv)
    assert C.batch_errors(queries, rows, k, want, qrels, kv, got) == []

    q0 = queries[0][0]
    swapped = {**rows, q0: [rows[q0][1][:3] + (1,), rows[q0][0][:3] + (2,)] + rows[q0][2:]}
    assert C.batch_errors(queries, swapped, k, want, qrels, kv, got)
    nudged = {**rows, q0: [rows[q0][0][:2] + (rows[q0][0][2] + 1e-3, 1)] + rows[q0][1:]}
    assert C.batch_errors(queries, nudged, k, want, qrels, kv, got)
    short = {**rows, q0: rows[q0][:-1]}
    assert C.batch_errors(queries, short, k, want, qrels, kv, got)
    bad_metric = {kk: dict(v) for kk, v in got.items()}
    bad_metric[10]["ndcg"] += 0.01
    assert C.batch_errors(queries, rows, k, want, qrels, kv, bad_metric)


def test_filtered_oracle_without_filter_is_bm25_topk(small):
    corpus, queries, _ = small
    texts = corpus.text_by_id()
    index = O.bm25_index(texts)
    want = O.bm25_topk(texts, {str(q): t for q, t in queries}, k=20)
    for q, t in queries:
        assert C.oracle_filtered(index, t, 20) == want[str(q)]


def test_request_check_passes_oracle_rows_and_fails_tampered(small):
    corpus, _, _ = small
    keep = [j for j, t in enumerate(corpus.text) if t]
    body_text = {j: " ".join(I.VOCAB[c] for c in corpus.body[j]) for j in keep}
    oracle = C.RequestOracle({
        I.pad_id(j): (corpus.title[j], body_text[j], corpus.lang[j], corpus.warc_ts[j], corpus.n_terms(j))
        for j in keep})
    rng = np.random.default_rng(5)
    for kind in ("match", "bool", "multi_match", "match_aggs"):
        body = I.make_request(rng, corpus, kind, 10)
        if kind == "multi_match":
            oracle.prepare_multi_match({1: body["query"]["multi_match"]["query"]}, 10)
            want = oracle.multi["1"]
        elif kind == "bool":
            b = body["query"]["bool"]
            rg = b["filter"][1]["range"]["n_terms"]
            want = C.oracle_filtered(
                oracle.index, b["must"][0]["match"]["text"], 10,
                lambda d: oracle.docs[d][2] == b["filter"][0]["term"]["lang"]
                and rg["gte"] <= oracle.docs[d][4] < rg["lt"])
        else:
            want = C.oracle_filtered(oracle.index, body["query"]["match"]["text"], 10)
        rows = [(1, int(d), s, r) for d, s, r in want]
        aggs = {}
        if kind == "match_aggs":
            uni = C.universe(oracle.index, body["query"]["match"]["text"])
            aggs = {"langs": dict(Counter(oracle.docs[d][2] for d in uni)),
                    "days": dict(Counter(C.day_key(oracle.docs[d][3]) for d in uni))}
        assert oracle.errors(1, kind, body, rows, aggs, 10) == [], kind
        if len(rows) > 1:
            tampered = [rows[1][:3] + (1,), rows[0][:3] + (2,)] + rows[2:]
            assert oracle.errors(1, kind, body, tampered, aggs, 10), kind
        assert oracle.errors(1, kind, body, rows + [(1, 10**6, 0.0, len(rows) + 1)], aggs, 10), kind
        if aggs:
            bad = {**aggs, "langs": {**aggs["langs"], "en": aggs["langs"].get("en", 0) + 1}}
            assert oracle.errors(1, kind, body, rows, bad, 10)


def test_ingest_checks_fail_tampered():
    rows = [(10**7, 105, 3.2, 1), (10**7 + 1, 106, 2.9, 1)]
    st = C.AppendStep(1.0, 0.5, 2, {"n_docs": 100, "next_doc_id": 105},
                      {"n_docs": 102, "next_doc_id": 107}, rows,
                      [(10**7, "mk1b0d0"), (10**7 + 1, "mk1b0d1")], {"mk1b0d0": 0, "mk1b0d1": 1}, 0)
    assert C.append_errors(st) == []
    st.rows = [(10**7, 106, 3.2, 1), (10**7 + 1, 106, 2.9, 1)]
    assert C.append_errors(st)
    st.rows, st.after = rows, {"n_docs": 101, "next_doc_id": 107}
    assert C.append_errors(st)

    cs = C.CompactStep(1.0, 2, 2, rows, list(reversed(rows)), 0, {})
    assert C.compact_errors(cs) == []
    cs.post = [rows[0], (10**7 + 1, 106, 2.8, 1)]
    assert C.compact_errors(cs)
    cs.post, cs.segments = rows, 3
    assert C.compact_errors(cs)


def test_spans_account_for_operation_wall():
    tr = Tracer("w", enabled=False)
    with tr.operation("op1"):
        with tr.span("request", "call"):
            with tr.span("aggs", "frame"):
                pass
        with tr.span("positions", "collect"):
            pass
    st = tr.self_times()
    op = next(sp for sp in tr.spans if sp.layer == "op")
    assert sum(v for (o, _), v in st.items() if o == "op1") == pytest.approx(op.dur)
    assert {layer for (_, layer) in st} == {"op", "request", "aggs", "positions"}


def test_union_of_job_intervals():
    assert E.union_ms([(0, 10), (5, 12), (20, 25)]) == 17
    assert E.union_ms([]) == 0


def test_rollup_groups_jobs_tasks_and_python_metrics(tmp_path):
    plan = {"nodeName": "MapInArrow", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        {"name": "number of output rows", "accumulatorId": 8, "metricType": "sum"}],
        "children": [{"nodeName": "Scan parquet ", "metrics": [
            {"name": "size of files read", "accumulatorId": 9, "metricType": "size"}],
            "children": []}]}
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0, "time": 100,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 110, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "w:b1:index_search", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 40, "JVM GC Time": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "30"}, {"ID": 8, "Update": "5"}]}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[9, 4096]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 150},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 0, "time": 160},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    g = E.rollup(str(path))["w:b1:index_search"]
    assert (g.jobs, g.tasks, g.task_run_ms, g.gc_ms, g.shuffle_write_bytes) == (1, 1, 40, 2, 1000)
    assert g.job_intervals == [(110, 150)]
    assert g.sql[("python", "time to run Python workers")] == 30
    assert g.sql[("python", "number of output rows")] == 5
    assert g.sql[("scan", "size of files read")] == 4096
    assert [(x.exec_id, x.python, x.end_ms) for x in g.execs] == [(0, True, 160)]
