"""Self-tests of the benchmark's generator and checker (no Spark needed).

Run from the repository root:

    python3 perfbench/selftest.py

The functions are also plain pytest tests.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import check  # noqa: E402
import gen  # noqa: E402

# The twin's rows for the phrase "part row" over the sf0.1 documents table
# (k=10, and k=16 for the boundary-tie lookup). The Spark positional-index
# path returned the same ten rows except that it kept doc 4220 where the
# twin keeps doc 2207: both print 0.3259, their full scores are 0.325932 and
# 0.325854, and the twin rounds before it cuts.
PART_ROW_TWIN = [
    (4023, 0.3591), (2365, 0.3435), (4540, 0.3435), (4926, 0.3398), (2027, 0.3362),
    (3360, 0.3362), (1800, 0.3293), (1837, 0.3292), (4506, 0.3292), (2207, 0.3259),
]
PART_ROW_TWIN_16 = PART_ROW_TWIN + [
    (4220, 0.3259), (1012, 0.3194), (730, 0.3193), (1976, 0.3193), (863, 0.313), (2809, 0.313),
]
PART_ROW_ENGINE = PART_ROW_TWIN[:9] + [(4220, 0.3259)]


def _twin_at(k):
    return PART_ROW_TWIN_16[:k]


def _texts(cycle):
    for op in cycle:
        yield op.get("query", op.get("phrase", ""))
        yield from (c["text"] for c in op.get("clauses", []))


def test_generator_is_a_function_of_the_seed():
    for w in gen.WORKLOADS:
        assert gen.cycles(w, 7, 3) == gen.cycles(w, 7, 3)
        assert gen.cycles(w, 7, 3) != gen.cycles(w, 8, 3)
        assert gen.cycles(w, 7, 1, warm=True) != gen.cycles(w, 7, 1)
    assert gen.documents(7).equals(gen.documents(7))
    assert not gen.documents(7).equals(gen.documents(8))
    assert gen.curate_sample(gen.documents(7), 7).equals(gen.curate_sample(gen.documents(7), 7))


def test_every_cycle_has_the_same_mix():
    for seed in range(5):
        for c in gen.cycles("hybrid", seed, 4):
            reqs = [op for op in c if op["kind"].startswith("hybrid.")]
            assert sorted(len(op["clauses"]) for op in reqs) == [2, 2, 2, 3]
            assert sum(op["kind"] == "hybrid.dense" for op in reqs) == 1
            assert sum(op["weights"] is not None for op in reqs) == 1
            assert {(op["normalization"], op["combination"]) for op in reqs} == set(gen.PAIRS)
            for op in reqs:
                if op["weights"]:
                    assert abs(sum(op["weights"]) - 1.0) < 1e-9 and min(op["weights"]) > 0
        for w in gen.WORKLOADS:
            for c in gen.cycles(w, seed, 4):
                words = " ".join(_texts(c)).split()
                assert words.count(gen.RARE_TERM) + words.count(gen.ABSENT_TERM) == 1


def test_corpus_shape():
    docs = gen.documents(3)
    assert len(docs) == gen.N_DOCS
    assert docs["text"].str.contains(rf"\b{gen.RARE_TERM}\b").sum() == gen.N_RARE
    assert not docs["text"].str.contains(gen.ABSENT_TERM).any()


def test_checker_passes_identical_rows():
    assert check.compare_topk(PART_ROW_TWIN, list(PART_ROW_TWIN), _twin_at) == check.OK


def test_checker_fails_a_swapped_doc():
    rows = list(PART_ROW_TWIN)
    rows[3] = (9999, rows[3][1])
    assert check.compare_topk(rows, PART_ROW_TWIN, _twin_at) == check.MISMATCH


def test_checker_fails_a_score_off_by_one_unit():
    rows = list(PART_ROW_TWIN)
    rows[4] = (rows[4][0], round(rows[4][1] + 0.0001, 4))
    assert check.compare_topk(rows, PART_ROW_TWIN, _twin_at) == check.MISMATCH


def test_checker_fails_a_missing_row():
    assert check.compare_topk(PART_ROW_TWIN[:-1], PART_ROW_TWIN, _twin_at) == check.MISMATCH
    assert check.compare_topk(PART_ROW_TWIN[1:], PART_ROW_TWIN, _twin_at) == check.MISMATCH


def test_checker_passes_the_recorded_part_row_tie():
    assert check.compare_topk(PART_ROW_ENGINE, PART_ROW_TWIN, _twin_at) == check.TIE


def test_tie_needs_the_twin_to_list_the_engine_row():
    rows = PART_ROW_TWIN[:9] + [(1012, 0.3259)]  # 1012 scores 0.3194 in the twin
    assert check.compare_topk(rows, PART_ROW_TWIN, _twin_at) == check.MISMATCH


def test_tie_needs_agreement_above_the_last_score():
    rows = [PART_ROW_TWIN[1], PART_ROW_TWIN[0], *PART_ROW_TWIN[2:9], (4220, 0.3259)]
    rows[0] = (rows[0][0], 0.3591)
    assert check.compare_topk(rows, PART_ROW_TWIN, _twin_at) == check.MISMATCH


def test_checker_compares_whole_rows():
    rows = [(1, 2, 0.5), (3, 4, 0.25)]
    assert check.compare_rows(rows, list(reversed(rows))) == check.OK
    assert check.compare_rows(rows, [(1, 2, 0.5), (3, 4, 0.2501)]) == check.MISMATCH
    assert check.compare_rows(rows, rows[:1]) == check.MISMATCH


if __name__ == "__main__":
    tests = [f for name, f in sorted(globals().items()) if name.startswith("test_")]
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
    print(f"{len(tests)} self-tests passed")
