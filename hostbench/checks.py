"""Correctness checks of the benchmark's timed operations.

Pure Python over collected rows, independent of Spark; every checker
returns a list of error strings (empty = correct). The workloads call
them after the timed loop, so checking is excluded from every timing,
and count an operation with any error as failed.

Rows are ``(qid, doc_id, score, rank)`` tuples. Oracle comparisons use
``oracle/bm25_oracle`` with zero-padded string ids (``inputs.pad_id``),
so ties break the same way as in the engine (score desc, doc_id asc).
"""

from __future__ import annotations

import datetime as _dt
from collections import Counter
from dataclasses import dataclass

from oracle import bm25_oracle as O

from hostbench.inputs import pad_id

SCORE_TOL = 1e-6
METRIC_TOL = 2e-6


def _rank_errors(rows: list[tuple], want: list[tuple], what: str) -> list[str]:
    """rows vs oracle [(pad_id, score, rank)]: rank- and score-identical."""
    got = sorted(rows, key=lambda r: r[3])
    if len(got) != len(want):
        return [f"{what}: {len(got)} hits, oracle has {len(want)}"]
    for g, (d, s, rk) in zip(got, want):
        if pad_id(g[1]) != d or g[3] != rk or abs(g[2] - s) > SCORE_TOL:
            return [f"{what}: rank {rk} got ({g[1]}, {g[2]:.6f}, {g[3]}), oracle ({d}, {s:.6f})"]
    return []


def check_topk(rows_by_qid: dict, want_by_qid: dict, what: str) -> list[str]:
    errs = []
    for qid, want in want_by_qid.items():
        errs += _rank_errors(rows_by_qid.get(qid, []), want, f"{what} q{qid}")
    return errs


def oracle_batch(corpus_text: dict[str, str], queries: dict[int, str], k: int) -> dict:
    """``bm25_topk`` over string qids, keyed back by integer qid."""
    got = O.bm25_topk(corpus_text, {str(q): t for q, t in queries.items()}, k=k)
    return {q: got.get(str(q), []) for q in queries}


def oracle_filtered(index: dict, qtext: str, k: int, keep=None) -> list[tuple]:
    """``bm25_topk``'s loop on a prebuilt ``bm25_index``, restricted to
    docs passing ``keep(pad_id)``: corpus statistics stay global, as a
    filter clause leaves them in the engine."""
    qterms = O.tokenize_ws(qtext)
    hits = []
    for d in index["tfs"]:
        if keep is not None and not keep(d):
            continue
        s = O.bm25_score(index, qterms, d)
        if s > 0.0:
            hits.append((d, round(s, O.SCORE_DECIMALS)))
    hits.sort(key=lambda h: (-h[1], h[0]))
    return [(d, s, i + 1) for i, (d, s) in enumerate(hits[:k])]


def universe(index: dict, qtext: str) -> list[str]:
    """Docs matching at least one query term (the aggregation universe)."""
    qterms = set(O.tokenize_ws(qtext))
    return [d for d, tf in index["tfs"].items() if qterms & tf.keys()]


def check_well_formed(rows: list[tuple], size: int, what: str, by_score: bool = True) -> list[str]:
    """ranks 1..n, n <= size, and (score desc, doc_id asc) order."""
    rows = sorted(rows, key=lambda r: r[3])
    if len(rows) > size:
        return [f"{what}: {len(rows)} hits > size {size}"]
    if [r[3] for r in rows] != list(range(1, len(rows) + 1)):
        return [f"{what}: ranks are not 1..{len(rows)}"]
    if by_score:
        keys = [(-round(r[2], 6), r[1]) for r in rows]
        if keys != sorted(keys):
            return [f"{what}: hits not in (score desc, doc_id asc) order"]
    if len({r[1] for r in rows}) != len(rows):
        return [f"{what}: duplicate doc ids"]
    return []


def check_metrics(
    run_by_qid: dict, qrels: dict[int, set[int]], k_values, got: dict[int, dict]
) -> list[str]:
    """``mean_metrics_at`` rows vs the oracle's per-query metrics averaged
    over the batch's judged queries. ``got``: k -> {ndcg, map, mrr,
    precision, recall}."""
    fns = {"ndcg": O.ndcg_at_k, "map": O.map_at_k, "mrr": O.mrr_at_k,
           "precision": O.precision_at_k, "recall": O.recall_at_k}
    ranked = {q: [pad_id(r[1]) for r in sorted(run_by_qid.get(q, []), key=lambda r: r[3])]
              for q in qrels}
    relevant = {q: {pad_id(d) for d in rel} for q, rel in qrels.items()}
    errs = []
    for k in k_values:
        if k not in got:
            errs.append(f"metrics: no row for k={k}")
            continue
        for name, fn in fns.items():
            vals = [fn(ranked[q], relevant[q], k) for q in qrels]
            want = round(sum(vals) / len(vals), 6)
            if abs(got[k][name] - want) > METRIC_TOL:
                errs.append(f"metrics: {name}@{k} = {got[k][name]}, oracle {want}")
    return errs


def check_buckets(got: dict, want: Counter, what: str) -> list[str]:
    """Aggregation buckets equal the counts over the oracle's universe."""
    if dict(got) != dict(want):
        return [f"{what}: buckets {dict(sorted(got.items()))} != oracle {dict(sorted(want.items()))}"]
    return []


def day_key(ts: _dt.datetime) -> str:
    return ts.strftime("%Y-%m-%d")


def check_same_results(before: list[tuple], after: list[tuple], what: str) -> list[str]:
    key = lambda r: (r[0], r[3], r[1], round(r[2], 6))  # noqa: E731
    if sorted(map(key, before)) != sorted(map(key, after)):
        return [f"{what}: results differ"]
    return []


# ------------------------------------------------------- per-operation checks

def batch_errors(qs, rows_by_qid: dict, k: int, oracle: dict, qrels: dict, k_values, got: dict) -> list[str]:
    """One ``beir_batch`` batch: every query's hits well-formed, the
    sampled queries in ``oracle`` rank- and score-identical to it, and
    the ``mean_metrics_at`` rows (``got``: k -> row dict) equal to the
    oracle metrics over the batch's qrels."""
    errs = []
    for q, _ in qs:
        errs += check_well_formed(rows_by_qid.get(q, []), k, f"q{q}")
    errs += check_topk(rows_by_qid, oracle, "oracle")
    errs += check_metrics(rows_by_qid, qrels, k_values, got)
    return errs


@dataclass
class AppendStep:
    wall_s: float  # append_to_index
    query_s: float  # the read-after-write batch
    n_new: int  # non-empty docs in the batch
    before: dict  # meta.json before the append
    after: dict  # meta.json after it
    rows: list  # read-after-write rows (qid, doc_id, score, rank)
    marker_queries: list  # [(qid, marker term)]
    markers: dict  # marker term -> position of its doc in the url-ordered batch
    segments: int  # segment count after the append (traced runs only)


@dataclass
class CompactStep:
    wall_s: float
    segments: int  # returned by compact_index
    target: int
    pre: list  # the batch's rows before compaction
    post: list  # and after
    index_bytes: int
    meta: dict


def append_errors(st: AppendStep) -> list[str]:
    """``n_docs`` grows by the batch's non-empty count, and each marker
    query returns its doc (ids continue at ``next_doc_id`` in url order)
    at rank 1."""
    errs = []
    if st.after["n_docs"] != st.before["n_docs"] + st.n_new:
        errs.append(f"n_docs {st.before['n_docs']} -> {st.after['n_docs']}, appended {st.n_new}")
    top = {r[0]: r[1] for r in st.rows if r[3] == 1}
    for qid, m in st.marker_queries:
        want = st.before["next_doc_id"] + st.markers[m]
        if top.get(qid) != want:
            errs.append(f"marker {m}: rank 1 is {top.get(qid)}, want {want}")
    return errs


def compact_errors(st: CompactStep) -> list[str]:
    errs = [] if st.segments == st.target else [f"compact: {st.segments} segments, want {st.target}"]
    return errs + check_same_results(st.pre, st.post, "post-compaction")


class RequestOracle:
    """Oracle answers for ``search_requests`` bodies over one corpus.

    ``docs``: zero-padded id -> (title, body, lang, warc_ts, n_terms) for
    the indexed (non-empty) docs; the single-field index holds
    ``title + " " + body``, the multifield index title and body apart."""

    def __init__(self, docs: dict):
        self.docs = docs
        self.index = O.bm25_index({d: f"{v[0]} {v[1]}" for d, v in docs.items()})
        self.multi: dict = {}

    def prepare_multi_match(self, queries: dict, size: int) -> None:
        """One ``bm25_multifield_topk`` call for every multi_match body."""
        self.multi = O.bm25_multifield_topk(
            {"title": {d: v[0] for d, v in self.docs.items()},
             "text": {d: v[1] for d, v in self.docs.items()}},
            {str(q): t for q, t in queries.items()}, k=size,
        )

    def errors(self, i: int, kind: str, body: dict, rows: list, aggs: dict, size: int) -> list[str]:
        errs = check_well_formed(rows, size, f"r{i}", by_score=kind != "sort")
        q = body["query"]
        if kind in ("match", "match_aggs"):
            errs += check_topk({i: rows}, {i: oracle_filtered(self.index, q["match"]["text"], size)}, kind)
        elif kind == "bool":
            text = q["bool"]["must"][0]["match"]["text"]
            lang = q["bool"]["filter"][0]["term"]["lang"]
            rg = q["bool"]["filter"][1]["range"]["n_terms"]

            def keep(d):
                v = self.docs[d]
                return v[2] == lang and rg["gte"] <= v[4] < rg["lt"]

            errs += check_topk({i: rows}, {i: oracle_filtered(self.index, text, size, keep)}, kind)
        elif kind == "multi_match":
            errs += check_topk({i: rows}, {i: self.multi.get(str(i), [])}, kind)
        elif kind == "sort":
            # warc_ts rises with doc id, so the sort order is doc id order
            ids = [r[1] for r in sorted(rows, key=lambda r: r[3])]
            want = sorted(int(d) for d in universe(self.index, q["match"]["text"]))
            if body["sort"][0]["warc_ts"] == "desc":
                want.reverse()
            if ids != want[:size]:
                errs.append(f"sort: doc ids {ids[:3]}.. != oracle {want[:3]}..")
        if kind == "match_aggs":
            uni = universe(self.index, q["match"]["text"])
            langs, days = aggs.get("langs"), aggs.get("days")
            if langs is None or days is None:
                return errs + ["aggs: missing frame"]
            errs += check_buckets(langs, Counter(self.docs[d][2] for d in uni), "terms lang")
            errs += check_buckets(days, Counter(day_key(self.docs[d][3]) for d in uni), "date_histogram")
        return errs
