"""Seeded input generator owned by the benchmark.

Everything the workloads feed the engine is made here from the ``--seed``
argument alone, with NumPy and the standard library. Nothing is imported
from ``sgpt_spark`` (in particular not ``sgpt_spark.sources``), so a change
to the engine cannot change the benchmark's inputs.

Shapes follow FIXTURES.md:

- corpus (§1): body terms drawn from a 10 000-word vocabulary
  ``term000000``..``term009999`` with a Zipf(s=1.07) rank distribution,
  lengths ~ U[20, 400], 1/1000 empty docs, ``lang`` by ``i % 50``
  (90% en, 8% de, 2% fr), ``warc_ts`` = 2024-01-01 + i * 17 s, and a
  short title. ``n_terms`` (the body length) is a numeric doc value for
  ``range`` filters. Text is ``title + " " + body`` with single spaces, so a
  whitespace split and the engine's standard analyzer see the same tokens.
- queries (§2): 2-8 terms, ~70% from a target doc, ~30% Zipf draws.
- qrels (§3): the target doc plus 0-4 further docs sharing >= 3 distinct
  query terms.

Also made here: the ``_search`` bodies of the request workload and the
append batches of the ingest workload, where each non-empty appended doc
carries a unique marker term.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 10_000
ZIPF_S = 1.07
MIN_LEN, MAX_LEN = 20, 400
EMPTY_EVERY = 1000
TS_BASE = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
TS_STEP_S = 17

VOCAB = [f"term{i:06d}" for i in range(VOCAB_SIZE)]
_ZIPF_P = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()

REQUEST_KINDS = (
    "match", "bool", "match_aggs", "query_string", "match_phrase",
    "multi_match", "sort",
)


def lang_of(i: int) -> str:
    r = i % 50
    return "en" if r < 45 else ("de" if r < 49 else "fr")


@dataclass
class Corpus:
    """Columns of the generated corpus; ``doc_id`` is the row index
    shifted by ``first_id``. ``body`` holds each doc's term codes."""

    first_id: int
    title: list[str]
    text: list[str]
    lang: list[str]
    warc_ts: list[_dt.datetime]
    body: list[np.ndarray]

    def __len__(self) -> int:
        return len(self.text)

    def doc_id(self, j: int) -> int:
        return self.first_id + j

    def n_terms(self, j: int) -> int:
        return len(self.body[j])

    def text_by_id(self) -> dict[str, str]:
        """Oracle view: zero-padded string id -> text."""
        return {pad_id(self.first_id + j): t for j, t in enumerate(self.text)}


def pad_id(doc_id: int) -> str:
    """Zero-padded string id: string order == integer order, so the
    oracle's (score desc, doc_id asc) tie-break matches the engine's."""
    return f"{int(doc_id):08d}"


def make_corpus(rng: np.random.Generator, n_docs: int, first_id: int = 0) -> Corpus:
    lengths = rng.integers(MIN_LEN, MAX_LEN + 1, size=n_docs)
    gid = np.arange(first_id, first_id + n_docs)
    lengths[gid % EMPTY_EVERY == EMPTY_EVERY - 1] = 0
    title_len = rng.integers(2, 7, size=n_docs)
    codes = rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=_ZIPF_P)
    tcodes = rng.choice(VOCAB_SIZE, size=int(title_len.sum()), p=_ZIPF_P)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    tbounds = np.concatenate([[0], np.cumsum(title_len)])
    vocab = VOCAB
    titles, texts, bodies = [], [], []
    for j in range(n_docs):
        body = codes[bounds[j]:bounds[j + 1]]
        bodies.append(body)
        if lengths[j] == 0:
            titles.append("")
            texts.append("")
            continue
        title = " ".join([vocab[c] for c in tcodes[tbounds[j]:tbounds[j + 1]]])
        titles.append(title)
        texts.append(title + " " + " ".join([vocab[c] for c in body]))
    return Corpus(
        first_id=first_id,
        title=titles,
        text=texts,
        lang=[lang_of(int(i)) for i in gid],
        warc_ts=[TS_BASE + _dt.timedelta(seconds=TS_STEP_S * int(i)) for i in gid],
        body=bodies,
    )


def make_queries(
    rng: np.random.Generator, corpus: Corpus, n: int, first_qid: int = 0
) -> tuple[list[tuple[int, str]], dict[int, set[int]]]:
    """-> ([(qid, text)], {qid: relevant doc ids}). Integer qids keep
    the engine's query relation small; the oracle pads them."""
    nonempty = np.flatnonzero([len(b) > 0 for b in corpus.body])
    queries, qrels = [], {}
    for q in range(first_qid, first_qid + n):
        target = int(rng.choice(nonempty))
        qlen = int(rng.integers(2, 9))
        from_doc = int(round(qlen * 0.7))
        body = corpus.body[target]
        terms = [int(t) for t in rng.choice(body, size=from_doc)]
        terms += [int(t) for t in rng.choice(VOCAB_SIZE, size=qlen - from_doc, p=_ZIPF_P)]
        qterms = set(terms)
        rel = {corpus.doc_id(target)}
        want_extra = int(rng.integers(0, 5))
        if want_extra:
            for j in rng.choice(nonempty, size=min(200, len(nonempty)), replace=False):
                if len(rel) > want_extra:
                    break
                if len(qterms & set(corpus.body[int(j)].tolist())) >= 3:
                    rel.add(corpus.doc_id(int(j)))
        queries.append((q, " ".join(VOCAB[t] for t in terms)))
        qrels[q] = rel
    return queries, qrels


def _body_terms(rng: np.random.Generator, corpus: Corpus, lo: int, hi: int) -> tuple[str, list[str]]:
    """A contiguous run of a random doc's body: guarantees a phrase hit."""
    nonempty = [j for j, b in enumerate(corpus.body) if len(b) >= hi]
    j = int(rng.choice(nonempty))
    n = int(rng.integers(lo, hi + 1))
    start = int(rng.integers(0, len(corpus.body[j]) - n + 1))
    words = [VOCAB[c] for c in corpus.body[j][start:start + n]]
    return " ".join(words), words


def make_request(rng: np.random.Generator, corpus: Corpus, kind: str, size: int = 10) -> dict:
    """One ES ``_search`` body of the given kind."""
    text, words = _body_terms(rng, corpus, 2, 4)
    if kind == "match":
        return {"query": {"match": {"text": text}}, "size": size}
    if kind == "bool":
        lang = str(rng.choice(["en", "de"]))
        lo = int(rng.integers(MIN_LEN, (MIN_LEN + MAX_LEN) // 2))
        return {
            "query": {"bool": {
                "must": [{"match": {"text": text}}],
                "filter": [{"term": {"lang": lang}},
                           {"range": {"n_terms": {"gte": lo, "lt": lo + (MAX_LEN - MIN_LEN) // 2}}}],
            }},
            "size": size,
        }
    if kind == "match_aggs":
        return {
            "query": {"match": {"text": text}},
            "size": size,
            "aggs": {
                "langs": {"terms": {"field": "lang", "size": 3}},
                "days": {"date_histogram": {"field": "warc_ts", "calendar_interval": "day"}},
            },
        }
    if kind == "query_string":
        a, b = words[0], words[1]
        c = VOCAB[int(rng.choice(VOCAB_SIZE, p=_ZIPF_P))]
        return {"query": {"query_string": {"query": f"{a} AND ({b} OR {c})"}}, "size": size}
    if kind == "match_phrase":
        return {"query": {"match_phrase": {"text": text}}, "size": size}
    if kind == "multi_match":
        return {
            "query": {"multi_match": {"query": text, "type": "best_fields",
                                      "fields": ["title", "text"], "tie_breaker": 0.5}},
            "size": size,
        }
    if kind == "sort":
        order = str(rng.choice(["asc", "desc"]))
        return {"query": {"match": {"text": text}}, "size": size,
                "sort": [{"warc_ts": order}]}
    raise ValueError(f"unknown request kind {kind!r}")


def make_request_rounds(
    rng: np.random.Generator, corpus: Corpus, n_rounds: int, size: int = 10
) -> list[tuple[str, dict]]:
    """``n_rounds`` rounds, each holding every kind once in a seeded
    order: the mix is the same in every run, the bodies and their order
    differ by seed."""
    out = []
    for _ in range(n_rounds):
        for kind in rng.permutation(REQUEST_KINDS):
            out.append((str(kind), make_request(rng, corpus, str(kind), size)))
    return out


def marker(seed: int, batch: int, j: int) -> str:
    return f"mk{seed}b{batch}d{j}"


def make_append_batch(
    rng: np.random.Generator, seed: int, batch: int, n_docs: int, first_id: int
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """-> ([(url, text)] in url order, {marker term: position in the
    batch}) for one append batch. Positions index the url-ordered batch,
    which is the order the engine assigns new doc ids in."""
    c = make_corpus(rng, n_docs, first_id=first_id)
    pages, markers = [], {}
    for j in range(n_docs):
        text = c.text[j]
        if text:
            m = marker(seed, batch, j)
            text = f"{text} {m}"
            markers[m] = j
        pages.append((f"https://example.org/append/b{batch:04d}/d{j:06d}", text))
    return pages, markers
