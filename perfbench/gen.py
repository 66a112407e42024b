"""Seeded inputs for the benchmark: the document corpus and the op lists.

Everything here is a pure function of ``(workload, seed)``; no Spark, no
DuckDB. The corpus has the shape of the synthetic ``documents`` table the
library's query set runs on (doc_id, text, lang, source, n_chars): 5,000
documents of 10-100 tokens drawn uniformly from a 30-term vocabulary, so
every common term has df of about 3,800, plus the rare term ``dup``
appended to 250 documents.

An op is a JSON-serialisable dict with an ``id``, a ``kind`` and the
arguments that kind needs. Ops come in cycles; one cycle holds every op
kind of the workload in a fixed proportion, so a run that stops at a cycle
boundary always measures the same mix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_DOCS = 5000
VOCAB = (
    "stream value spark data big small vector group slow table key column "
    "order scan window hash merge row customer join fast filter a the line "
    "part sort query batch agg"
).split()
RARE_TERM = "dup"  # in N_RARE documents: the few-hit case
N_RARE = 250
ABSENT_TERM = "zzmissing"  # in no document: the zero-hit case
# Each cycle carries exactly one of the two in one of its search ops.
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20

K = 10  # top-k of every search op
DEPTH = 50  # per-clause depth of every hybrid op
CURATE_SAMPLE = 1000  # document rows in the curation sample
KEYWORDS_PER_DOC = 3
PAIRS = [
    ("min_max", "arithmetic_mean"),
    ("l2", "harmonic_mean"),
    ("z_score", "geometric_mean"),
    ("rrf", "rrf"),
]
SEARCH_KINDS = ("wand.match_topk", "bm25.match_topk", "positions.phrase_topk", "hybrid.request")

# A run's timed window ends on a cycle boundary, so a cycle is sized to fill
# the window by itself: two ops of each kind for lexical, four requests for
# hybrid (about 10 s each on a 4-core host).
CYCLES = {
    "lexical": [
        "wand.match_topk",
        "bm25.match_topk",
        "positions.phrase_topk",
        "dedup.ngram_jaccard",
        "textstats.doc_keywords",
    ]
    * 2,
    "hybrid": ["hybrid.request"] * 4,
}
WORKLOADS = tuple(CYCLES)

# Stream tags keep the corpus, the warm-up ops and the timed ops on
# independent random streams of one seed.
_CORPUS, _WARM, _TIMED, _SAMPLE = 0, 1, 2, 3


def _rng(seed: int, stream: int) -> np.random.RandomState:
    return np.random.RandomState(np.random.SeedSequence([seed, stream]).generate_state(1)[0])


def documents(seed: int) -> pd.DataFrame:
    """The corpus as a ``documents`` table."""
    rng = _rng(seed, _CORPUS)
    lengths = rng.randint(10, 101, size=N_DOCS)
    words = np.array(VOCAB)[rng.randint(0, len(VOCAB), size=int(lengths.sum()))]
    rare = set(rng.choice(N_DOCS, size=N_RARE, replace=False).tolist())
    langs = rng.choice(LANGS, size=N_DOCS, p=LANG_P)
    texts, start = [], 0
    for i, n in enumerate(lengths):
        toks = words[start : start + n].tolist()
        start += n
        if i in rare:
            toks.append(RARE_TERM)
        texts.append(" ".join(toks))
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def curate_sample(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The seeded document sample the curation ops run over."""
    rng = _rng(seed, _SAMPLE)
    rows = np.sort(rng.choice(len(docs), size=CURATE_SAMPLE, replace=False))
    return docs.iloc[rows].reset_index(drop=True)


def _terms(rng: np.random.RandomState, lo: int, hi: int) -> list[str]:
    n = rng.randint(lo, hi + 1)
    return [VOCAB[i] for i in rng.choice(len(VOCAB), size=n, replace=False)]


def _with_edge(rng: np.random.RandomState, terms: list[str], edge: str | None) -> str:
    """Swap one term for ``edge`` (the rare or the absent term), if given."""
    if edge is not None:
        terms = list(terms)
        terms[rng.randint(len(terms))] = edge
    return " ".join(terms)


def _weights(rng: np.random.RandomState, n: int) -> list[float]:
    cuts = [0, *sorted(rng.choice(np.arange(1, 100), size=n - 1, replace=False)), 100]
    return [(b - a) / 100 for a, b in zip(cuts, cuts[1:])]


def _hybrid_request(rng, pair, n_clauses, dense, weighted, edge) -> dict:
    clauses = [{"kind": "match", "text": " ".join(_terms(rng, 1, 3))} for _ in range(n_clauses)]
    edge_i = rng.randint(n_clauses)
    if edge is not None:
        clauses[edge_i]["text"] = edge
    if dense:
        i = (edge_i + 1 + rng.randint(n_clauses - 1)) % n_clauses  # keeps the edge clause
        clauses[i] = {"kind": "neural", "text": " ".join(_terms(rng, 2, 4))}
    return {
        "kind": "hybrid.dense" if dense else "hybrid.lexical",
        "clauses": clauses,
        "normalization": pair[0],
        "combination": pair[1],
        "weights": _weights(rng, n_clauses) if weighted else None,
    }


def _cycle(rng: np.random.RandomState, kinds: list[str]) -> list[dict]:
    """One cycle. Seeded draws decide which op carries the cycle's one rare
    or absent term and, for hybrid requests, which of them has three clauses,
    the dense clause and weights, and the order of the four
    normalization/combination pairs; the counts stay the same in every
    cycle, so cycles cost the same from seed to seed."""
    search = [i for i, k in enumerate(kinds) if k in SEARCH_KINDS]
    edge_at = search[rng.randint(len(search))]
    edge = RARE_TERM if rng.rand() < 0.5 else ABSENT_TERM
    requests = [i for i, k in enumerate(kinds) if k == "hybrid.request"]
    if requests:
        pairs = [PAIRS[j] for j in rng.permutation(len(PAIRS))]
        three_at, dense_at, weighted_at = (requests[rng.randint(len(requests))] for _ in range(3))
    ops = []
    for i, kind in enumerate(kinds):
        e = edge if i == edge_at else None
        if kind in ("wand.match_topk", "bm25.match_topk"):
            op = {"kind": kind, "query": _with_edge(rng, _terms(rng, 1, 4), e)}
        elif kind == "positions.phrase_topk":
            words = [VOCAB[j] for j in rng.randint(0, len(VOCAB), size=rng.randint(2, 4))]
            op = {"kind": kind, "phrase": _with_edge(rng, words, e)}
        elif kind == "hybrid.request":
            op = _hybrid_request(
                rng,
                pairs[requests.index(i) % len(pairs)],
                3 if i == three_at else 2,
                dense=i == dense_at,
                weighted=i == weighted_at,
                edge=e,
            )
        else:
            op = {"kind": kind}  # curation ops run over the run's fixed sample
        ops.append(op)
    return ops


def cycles(workload: str, seed: int, n_cycles: int, warm: bool = False) -> list[list[dict]]:
    """``n_cycles`` cycles of the workload's ops, with run-unique op ids."""
    rng = _rng(seed, _WARM if warm else _TIMED)
    out = [_cycle(rng, CYCLES[workload]) for _ in range(n_cycles)]
    prefix = "w" if warm else "op"
    for n, op in enumerate(op for c in out for op in c):
        op["id"] = f"{prefix}{n}"
    return out


def op_kinds(workload: str) -> list[str]:
    """The distinct op kinds a workload runs, as reported by the trace."""
    kinds = []
    for k in CYCLES[workload]:
        for kk in (["hybrid.lexical", "hybrid.dense"] if k == "hybrid.request" else [k]):
            if kk not in kinds:
                kinds.append(kk)
    return kinds
