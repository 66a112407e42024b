"""Training-data pipeline operators: dedup / ANN / textstats / multimodal.

Numpy/pure-Python oracles mirror each Spark plan on tiny hand-built data;
the DuckDB side is covered by the driver's correctness gate (the oracle
SQL in neural_search_spark/pipeline/sql.py shares every constant via
pipeline/params.py).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.pipeline import params as P


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "en", "the quick brown fox jumps over the lazy dog"),
        (1, "en", "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "en", "the quick brown fox jumps over a sleepy dog"),  # near dup of 0
        (3, "de", "der schnelle fuchs springt und der hund schlaeft"),
        (4, "en", "completely different text about spark dataframes and shuffles"),
        (5, "en", ""),  # empty doc
    ]
    return spark.createDataFrame(rows, "docID long, lang string, content string")


def test_exact_dups(docs):
    from neural_search_spark.pipeline.dedup import exact_dups

    got = {(r["docID"], r["keep_docID"]) for r in exact_dups(docs).collect()}
    assert got == {(1, 0)}


def test_doc_shingles_match_python(docs):
    from neural_search_spark.pipeline.dedup import doc_shingles

    got = {
        (r["docID"], r["sh"]) for r in doc_shingles(docs).collect()
    }
    exp = set()
    for row in docs.collect():
        toks = __import__("re").findall(r"[a-z0-9_]+", row["content"].lower())
        for i in range(len(toks) - P.SHINGLE_N + 1):
            exp.add((row["docID"], P.hash32_py(" ".join(toks[i : i + P.SHINGLE_N]))))
    assert got == exp
    # empty doc contributes nothing
    assert not any(d == 5 for d, _ in got)


def test_minhash_finds_exact_and_near_dups(docs):
    from neural_search_spark.pipeline.dedup import minhash_near_dups

    got = {(r["docA"], r["docB"]): r["jaccard"] for r in minhash_near_dups(docs).collect()}
    assert got[(0, 1)] == 1.0
    # 1 is an exact copy of 0, so (0,2) and (1,2) must agree (both absent
    # or both present with equal jaccard)
    assert got.get((1, 2)) == got.get((0, 2))
    # unrelated docs never pair
    assert not any(4 in pair or 3 in pair for pair in got)


def test_simhash_band_join_equals_bruteforce(docs):
    from neural_search_spark.pipeline.dedup import simhash, simhash_near_dups

    fp = {r["docID"]: (r["sim_lo"], r["sim_hi"]) for r in simhash(docs).collect()}
    brute = set()
    for a in fp:
        for b in fp:
            ham = bin(fp[a][0] ^ fp[b][0]).count("1") + bin(fp[a][1] ^ fp[b][1]).count("1")
            if a < b and ham <= P.SIMHASH_MAX_HAMMING:
                brute.add((a, b))
    got = {(r["docA"], r["docB"]) for r in simhash_near_dups(docs).collect()}
    assert got == brute
    assert (0, 1) in got  # exact dups share the fingerprint


def test_simhash_matches_python_oracle(docs):
    """Fingerprint words re-derived in pure Python from the shared params —
    pins the (hash32, tf-weighted vote, two-word assembly) contract."""
    import re

    from neural_search_spark.pipeline.dedup import simhash

    got = {r["docID"]: (r["sim_lo"], r["sim_hi"]) for r in simhash(docs).collect()}
    for row in docs.collect():
        toks = re.findall(r"[a-z0-9_]+", row["content"].lower())
        if not toks:
            assert row["docID"] not in got
            continue
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        words = []
        for sfx in ("", P.SIMHASH_HI_SUFFIX):
            g = [0] * P.SIMHASH_WORD_BITS
            for t, c in tf.items():
                h = P.hash32_py(t + sfx)
                for j in range(P.SIMHASH_WORD_BITS):
                    g[j] += c if (h >> j) & 1 else -c
            words.append(sum(1 << j for j in range(P.SIMHASH_WORD_BITS) if g[j] > 0))
        assert got[row["docID"]] == tuple(words), row["docID"]


def test_simhash_band_guard_rejects_wide_hamming(docs):
    from neural_search_spark.pipeline.dedup import simhash_near_dups

    with pytest.raises(ValueError, match="exact only"):
        simhash_near_dups(docs, max_hamming=P.SIMHASH_BANDS)


def test_simhash_band_rows_cover_all_bits(docs):
    """The 4 band slices partition the 64 fingerprint bits: reassembling
    the words from the band values round-trips exactly."""
    from neural_search_spark.pipeline.dedup import simhash, simhash_band_rows

    rows = simhash_band_rows(simhash(docs)).collect()
    by_doc: dict[int, dict[int, int]] = {}
    words: dict[int, tuple[int, int]] = {}
    for r in rows:
        by_doc.setdefault(r["docID"], {})[r["band_idx"]] = r["band_val"]
        words[r["docID"]] = (r["sim_lo"], r["sim_hi"])
    bb = P.SIMHASH_BAND_BITS
    for d, bands in by_doc.items():
        assert sorted(bands) == list(range(P.SIMHASH_BANDS))
        lo = bands[0] | (bands[1] << bb)
        hi = bands[2] | (bands[3] << bb)
        assert (lo, hi) == words[d]


def test_ngram_jaccard_blocks_by_lang(docs):
    from neural_search_spark.pipeline.dedup import ngram_jaccard_pairs

    got = {(r["docA"], r["docB"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, "lang").collect()}
    assert got[(0, 1)] == 1.0
    assert all(a != 3 and b != 3 for a, b in got)  # de never pairs with en


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(3)
    rows = [(int(i), [float(x) for x in rng.randn(P.EMBEDDING_DIM).astype(np.float32)]) for i in range(30)]
    rows.append((100, rows[4][1]))  # exact copy of vec 4
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dups_finds_copy(vecs):
    from neural_search_spark.pipeline.dedup import embedding_near_dups

    got = [(r["idA"], r["idB"], r["cosine"]) for r in embedding_near_dups(vecs).collect()]
    assert got == [(4, 100, 1.0)]


def test_cosine_topk_matches_numpy(vecs):
    from neural_search_spark.pipeline.ann import cosine_topk

    got = [(r["vec_id"], r["score"]) for r in cosine_topk(vecs, 0, k=5).collect()]
    pdf = vecs.toPandas()
    m = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    q = m[pdf["vec_id"] == 0][0]
    cos = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = [
        (int(v), round(float(c), 4))
        for v, c in sorted(
            zip(pdf["vec_id"], cos), key=lambda t: (-t[1], t[0])
        )
        if v != 0
    ][:5]
    assert [(v, pytest.approx(c, abs=2e-4)) for v, c in order] == got


def test_ann_lsh_topk_subset_of_bucket(vecs):
    from neural_search_spark.pipeline.ann import ann_lsh_topk, lsh_buckets

    b = {r["vec_id"]: r["bucket"] for r in lsh_buckets(vecs).collect()}
    got = [r["vec_id"] for r in ann_lsh_topk(vecs, 0, k=5).collect()]
    assert all(b[v] == b[0] for v in got)
    assert 0 not in got


def test_ivf_centroids_shape_and_determinism(vecs):
    from neural_search_spark.pipeline.ann import ivf_centroids

    cents = {r["list_id"]: r["centroid"] for r in ivf_centroids(vecs, n_lists=4).collect()}
    assert sorted(cents) == [0, 1, 2, 3]
    assert all(len(c) == P.EMBEDDING_DIM for c in cents.values())
    again = {r["list_id"]: r["centroid"] for r in ivf_centroids(vecs, n_lists=4).collect()}
    assert cents == again


def test_ann_ivf_topk_probes_nearest_lists(vecs):
    from neural_search_spark.pipeline.ann import ann_ivf_topk, ivf_assign, ivf_centroids

    cents = ivf_centroids(vecs, n_lists=4)
    assign = {r["vec_id"]: r["list_id"] for r in ivf_assign(vecs, cents).collect()}
    got = [(r["vec_id"], r["score"]) for r in ann_ivf_topk(vecs, 0, k=5, n_lists=4, nprobe=2).collect()]
    assert got and 0 not in [v for v, _ in got]
    # candidates all live in at most nprobe distinct lists
    assert len({assign[v] for v, _ in got}) <= 2
    # scores are sorted desc with vec_id tie-break
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))
    # the exact copy of vec 4 (id 100) lands in the same list as vec 4
    assert assign[100] == assign[4]


def test_ann_ivf_full_probe_equals_exact(vecs):
    """With nprobe == n_lists the IVF path degenerates to exact search."""
    from neural_search_spark.pipeline.ann import ann_ivf_topk, cosine_topk

    exact = [(r["vec_id"], r["score"]) for r in cosine_topk(vecs, 0, k=5).collect()]
    ivf = [(r["vec_id"], r["score"]) for r in ann_ivf_topk(vecs, 0, k=5, n_lists=4, nprobe=4).collect()]
    assert ivf == exact


def test_single_query_ann_raises_on_a_missing_query_id(vecs):
    """The single-query paths that fetch the query vector to the driver
    name the missing id instead of failing on a None row."""
    from neural_search_spark.pipeline.ann import ann_ivf_topk, ann_ivfpq_topk, ann_pq_topk

    for call in (
        lambda: ann_ivf_topk(vecs, 999, k=5, n_lists=4, nprobe=2),
        lambda: ann_pq_topk(vecs, 999, k=5, n_codes=4),
        lambda: ann_ivfpq_topk(vecs, 999, k=5, n_lists=4, n_codes=4),
    ):
        with pytest.raises(ValueError, match="query id 999 is not in the table"):
            call().collect()


def test_lang_id(spark):
    from neural_search_spark.pipeline.textstats import lang_id

    rows = [
        (0, "the cat sat of the mat and it is a cat"),
        (1, "der hund und die katze und das haus ist nicht ein"),
        (2, "xyzzy qwerty"),  # no stopwords anywhere
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    got = {r["docID"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "und", 3: "und"}


def test_token_counts(spark):
    from neural_search_spark.pipeline.textstats import token_counts

    df = spark.createDataFrame([(0, "Hello, world! x2  ok")], "docID long, content string")
    r = token_counts(df).collect()[0]
    assert r["ws_tokens"] == 4
    # hello , world ! x 2 ok  → 7 BPE-ish pieces
    assert r["bpe_ish_tokens"] == 7


def test_quality_empty_doc(spark):
    from neural_search_spark.pipeline.textstats import quality_scores

    df = spark.createDataFrame([(0, ""), (1, "good clean text here")], "docID long, content string")
    got = {r["docID"]: r for r in quality_scores(df).collect()}
    assert got[0]["quality"] == 0.0
    assert got[0]["n_tokens"] == 0
    assert 0 < got[1]["alpha_ratio"] <= 1.0


def test_quality_threshold_sweep(spark):
    from neural_search_spark.pipeline.textstats import (
        quality_scores,
        quality_threshold_sweep,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["", "good clean text here", "x!!!", "the quick brown fox " * 20]
        )],
        "docID long, content string",
    )
    got = quality_threshold_sweep(df, thresholds=(0.0, 0.5, 0.9))
    rows = got.collect()
    assert [r["threshold"] for r in rows] == [0.0, 0.5, 0.9]
    # threshold 0.0 keeps everything; rates are monotone non-increasing
    assert rows[0]["docs_kept"] == 4 and rows[0]["doc_keep_rate"] == 1.0
    assert rows[0]["token_keep_rate"] == 1.0
    for a, b in zip(rows, rows[1:]):
        assert a["docs_kept"] >= b["docs_kept"]
        assert a["tokens_kept"] >= b["tokens_kept"]
    # cross-check one rung against the per-doc scores
    q = {r["docID"]: r for r in quality_scores(df).collect()}
    want_docs = sum(1 for r in q.values() if r["quality"] >= 0.5)
    want_toks = sum(r["n_tokens"] for r in q.values() if r["quality"] >= 0.5)
    assert rows[1]["docs_kept"] == want_docs
    assert rows[1]["tokens_kept"] == want_toks
    # one corpus pass: corpus rows cross exactly one exchange (the 1-row
    # aggregate); the second exchange is the final sort of the T-row ladder
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    assert plan.count(") Exchange") <= 2
    with pytest.raises(ValueError):
        quality_threshold_sweep(df, thresholds=(0.5, 0.1))


def test_fingerprint_matches_python(docs):
    from neural_search_spark.pipeline.textstats import fingerprints

    got = {r["docID"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    import re

    for row in docs.collect():
        acc = 0
        for t in re.findall(r"[a-z0-9_]+", row["content"].lower()):
            acc = (acc * P.FINGERPRINT_MULT + P.hash32_py(t)) % P.MERSENNE_P
        assert got[row["docID"]] == acc
    # order sensitivity: same tokens, different order → different fingerprint
    assert got[0] != got[2]


def test_binary_features_checksum(docs):
    from neural_search_spark.pipeline.multimodal import (
        extract_binary_features,
        with_binary_payload,
    )

    got = {r["docID"]: r for r in extract_binary_features(with_binary_payload(docs)).collect()}
    for row in docs.collect():
        raw = row["content"].encode()
        assert got[row["docID"]]["n_bytes"] == len(raw)
        assert got[row["docID"]]["checksum"] == int(hashlib.md5(raw).hexdigest()[:8], 16)


def test_decode_stub_raises():
    from neural_search_spark.pipeline.multimodal import decode_image_stub

    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x89PNG")


def test_frame_sample(docs):
    from neural_search_spark.pipeline.multimodal import frame_sample, with_binary_payload

    got = frame_sample(with_binary_payload(docs), frame_stride=10, max_frames=3).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["docID"], []).append((r["frame_idx"], r["byte_offset"]))
    lens = {r["docID"]: len(r["content"]) for r in docs.collect()}
    for d, frames in by_doc.items():
        exp_n = min((lens[d] + 9) // 10, 3)
        assert sorted(frames) == [(i, i * 10) for i in range(exp_n)]
    assert 5 not in by_doc  # empty payload → no frames


def test_text_image_embedding_joint_norm(spark):
    """One JOINT embedding (TextImageEmbeddingProcessor): 8 text dims from
    token counts + 4 image dims from the checksum bytes, normalized
    together — pure-Python oracle over hand-built rows."""
    from neural_search_spark.pipeline.multimodal import (
        text_image_embedding_stub,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "")], "docID long, content string"
    )
    joined = docs.join(with_binary_payload(docs).select("docID", "payload"), "docID")
    rows = text_image_embedding_stub(joined).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in rows:
        by_doc.setdefault(r["docID"], {})[r["dim"]] = r["value"]

    for doc_id, text in [(1, "spark join window"), (2, "")]:
        toks = __import__("re").findall(r"[a-z0-9_]+", text.lower())
        tc: dict[int, float] = {}
        for t in toks:
            tc[len(t) % 8] = tc.get(len(t) % 8, 0.0) + 1.0
        ck = P.hash32_py(text)
        img = {8 + j: float((ck >> (8 * j)) & 255) for j in range(4)}
        vals = {**tc, **img}
        nrm = sum(v * v for v in vals.values()) ** 0.5
        want = {d: round(v / nrm, 6) for d, v in vals.items()}
        got = by_doc[doc_id]
        assert set(got) == set(want), doc_id
        for d in want:
            assert got[d] == pytest.approx(want[d], abs=1e-9), (doc_id, d)
    # doc 2 (no tokens): image dims only, still unit-normalized
    assert set(by_doc[2]) == {8, 9, 10, 11}
    assert sum(v * v for v in by_doc[2].values()) == pytest.approx(1.0, abs=1e-4)


def test_quantize_int8_range_and_error_bound(vecs):
    from neural_search_spark.pipeline.ann import quantization_stats, quantize_int8

    mn, mx = quantization_stats(vecs)
    scale = (mx - mn) / 255.0
    qt = {r["vec_id"]: r["qvec"] for r in quantize_int8(vecs, mn, mx).collect()}
    raw = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for vid, qv in qt.items():
        assert all(0 <= q <= 255 for q in qv)
        for q, v in zip(qv, raw[vid]):
            assert abs((mn + q * scale) - float(v)) <= scale / 2 + 1e-12


def test_ann_quantized_topk_tracks_exact(vecs):
    from neural_search_spark.pipeline.ann import ann_quantized_topk, cosine_topk

    exact = [r["vec_id"] for r in cosine_topk(vecs, 0, k=5).collect()]
    quant = [r["vec_id"] for r in ann_quantized_topk(vecs, 0, k=5).collect()]
    # 8-bit quantization over random gaussians: top-5 overlap must be high
    assert len(set(exact) & set(quant)) >= 4


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    from neural_search_spark.pipeline.events import sessionize

    def t(h, m):
        return datetime(2024, 1, 1, h, m)

    rows = [
        (0, t(10, 0), 1, "view", 1.0, "{}"),
        (1, t(10, 10), 1, "click", 1.0, "{}"),   # same session (10 min gap)
        (2, t(11, 0), 1, "view", 1.0, "{}"),     # 50 min gap -> new session
        (3, t(10, 0), 2, "view", 1.0, "{}"),     # other user, own session
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_sec"])
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got == {(1, 1): (2, 600.0), (1, 2): (1, 0.0), (2, 1): (1, 0.0)}


def test_window_agg_counts(spark):
    from datetime import datetime

    from neural_search_spark.pipeline.events import window_agg

    rows = [
        (0, datetime(2024, 1, 1, 10, 5), 1, "view", 2.0, "{}"),
        (1, datetime(2024, 1, 1, 10, 55), 2, "view", 3.0, "{}"),
        (2, datetime(2024, 1, 1, 11, 5), 1, "view", 4.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 30), 1, "click", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"], r["n_users"])
        for r in window_agg(df).collect()
    }
    assert got == {(10, "view"): (2, 5.0, 2), (10, "click"): (1, 5.0, 1), (11, "view"): (1, 4.0, 1)}


def test_connected_components_transitive(spark):
    from neural_search_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 7)], "docA long, docB long"
    )
    got = {r["docID"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    # chain 1-2-3 collapses to min id 1 even though (1,3) was never a pair
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 7: 7, 20: 7}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir mode cuts lineage with reliable checkpoint() —
    same fixpoint, and checkpoint files actually land in the dir."""
    from neural_search_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "docA long, docB long"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r["docID"]: r["cluster_id"]
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    import os

    found = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert found, "reliable checkpoint wrote no files"


def test_split_assign_deterministic(spark):
    from neural_search_spark.pipeline import params as P
    from neural_search_spark.pipeline.training import split_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "docID long")
    rows = split_assign(df).collect()
    assert len(rows) == 200
    for r in rows[:20]:
        b = P.hash32_py(f"split-v1:{r['docID']}") % 10000
        assert r["bucket"] == b
        assert r["split"] == ("train" if b < 9000 else "val" if b < 9500 else "test")
    # re-run identical (pure function of id, not of partitioning)
    again = split_assign(df.repartition(7)).collect()
    assert {(r["docID"], r["split"]) for r in again} == {
        (r["docID"], r["split"]) for r in rows
    }
    with pytest.raises(ValueError, match="sum"):
        split_assign(df, splits=(("train", 5000),))


def test_pack_plan_offsets_and_straddle(spark):
    from neural_search_spark.pipeline.training import pack_plan

    docs = spark.createDataFrame(
        [
            (0, "a b c"),          # dl 3, start 0, pack 0
            (1, " ".join(["t"] * 6)),  # dl 6, start 3, spans packs 0-1 (budget 8)
            (2, ""),               # dl 0, start 9, occupies pack 1, spans 0
            (3, "x y"),            # dl 2, start 9, pack 1
        ],
        "docID long, content string",
    )
    got = {r["docID"]: r for r in pack_plan(docs, budget=8, n_ranges=2).collect()}
    assert [got[i]["start_offset"] for i in range(4)] == [0, 3, 9, 9]
    assert [got[i]["pack_id"] for i in range(4)] == [0, 0, 1, 1]
    assert [got[i]["n_packs"] for i in range(4)] == [1, 2, 0, 1]


def test_repetition_stats_semantics(spark):
    from neural_search_spark.pipeline.textstats import repetition_stats

    rows = [
        (0, "a b\na b\nc d"),      # 1 dup line of 3; bigrams: "a b"x2,"b a","b c","c d" -> top 2/5
        (1, "x"),                   # single token: 0 bigrams
        (2, "p q p q p q"),         # bigrams: "p q"x3 + "q p"x2 -> top 3/5
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    got = {r["docID"]: r for r in repetition_stats(df).collect()}
    assert got[0]["n_lines"] == 3 and abs(got[0]["dup_line_frac"] - 1 / 3) < 1e-6
    assert abs(got[0]["top_bigram_frac"] - 2 / 5) < 1e-6
    assert got[1]["n_bigrams"] == 0 and got[1]["top_bigram_frac"] == 0.0
    assert got[2]["n_bigrams"] == 5 and abs(got[2]["top_bigram_frac"] - 3 / 5) < 1e-6


def test_ngram_decontaminate(spark):
    from neural_search_spark.pipeline.decontam import ngram_decontaminate

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),   # shares 3-grams with bench doc
            (1, "alpha beta zeta"),           # 2-token overlap only -> clean at n=3
            (2, "unrelated words entirely"),
        ],
        "docID long, content string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma epsilon")], "docID long, content string"
    )
    got = {r["docID"]: r["n_hit_ngrams"] for r in ngram_decontaminate(corpus, bench, n=3).collect()}
    assert got == {0: 1}  # only "alpha beta gamma" overlaps


def test_ngram_decontaminate_keeps_string_ids(spark):
    """The output docID carries the caller's id type: a string-id corpus
    (under a non-default id column) comes back as string ids."""
    from pyspark.sql.types import StringType

    from neural_search_spark.pipeline.decontam import ngram_decontaminate

    corpus = spark.createDataFrame(
        [
            ("doc-a", "alpha beta gamma delta"),
            ("doc-b", "alpha beta zeta"),
            ("doc-c", "beta gamma epsilon alpha beta gamma"),
        ],
        "uid string, content string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma epsilon")], "docID long, content string"
    )
    out = ngram_decontaminate(corpus, bench, n=3, id_col="uid")
    assert out.schema["docID"].dataType == StringType()
    got = {r["docID"]: r["n_hit_ngrams"] for r in out.collect()}
    assert got == {"doc-a": 1, "doc-c": 2}


def test_stratified_sample_deterministic_and_stratified(spark):
    from neural_search_spark.pipeline.training import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(400)]
    df = spark.createDataFrame(rows, "docID long, lang string")
    out1 = stratified_sample(df, "lang", {"en": 0.5})
    out2 = stratified_sample(df, "lang", {"en": 0.5})
    ids1 = sorted(r["docID"] for r in out1.collect())
    assert ids1 == sorted(r["docID"] for r in out2.collect())  # rerun-stable
    assert all(i % 2 == 0 for i in ids1)  # zh absent from map -> dropped
    assert 40 <= len(ids1) <= 160  # ~100 of 200 en docs at rate 0.5
    # different seed re-rolls membership
    ids_seed2 = sorted(
        r["docID"] for r in stratified_sample(df, "lang", {"en": 0.5}, seed="v2").collect()
    )
    assert ids_seed2 != ids1
    import pytest

    with pytest.raises(ValueError, match="fractions"):
        stratified_sample(df, "lang", {"en": 1.5})


def test_domain_mixture_rates_and_limiting_stratum(spark):
    from neural_search_spark.pipeline.training import domain_mixture

    # en carries 4x the mass of de; target 50/50 -> de limits (rate 1.0)
    # and en keeps exactly 1/4 of its mass in expectation.
    rows = [(i, "en" if i % 5 != 0 else "de", 100) for i in range(500)]
    df = spark.createDataFrame(rows, "docID long, lang string, n_tokens long")
    out = domain_mixture(df, "lang", {"en": 0.5, "de": 0.5}, "n_tokens")
    rates = {r["stratum"]: r["keep_rate"] for r in out.select("stratum", "keep_rate").distinct().collect()}
    assert rates["de"] == 1.0
    assert abs(rates["en"] - 0.25) < 1e-6
    kept = out.where("kept = 1 AND stratum = 'en'").count()
    assert 50 <= kept <= 150  # ~100 of 400 en docs at rate 0.25
    # absent stratum -> rate 0, kept 0
    rows2 = rows + [(1000 + i, "zh", 100) for i in range(50)]
    df2 = spark.createDataFrame(rows2, "docID long, lang string, n_tokens long")
    out2 = domain_mixture(df2, "lang", {"en": 0.5, "de": 0.5}, "n_tokens")
    zh = out2.where("stratum = 'zh'")
    assert zh.where("keep_rate != 0.0 OR kept != 0").count() == 0
    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        domain_mixture(df, "lang", {"en": 0.5}, "n_tokens")


def test_pii_scrub_counts_and_masking(spark):
    from neural_search_spark.pipeline.textstats import pii_scrub

    rows = [
        (1, "mail me at alice@example.org or bob@x.io today"),
        (2, "server 192.168.0.1 and backup 10.0.0.2"),
        (3, "call +14155551234 now"),
        (4, "user@10.0.0.5 is an email, not an ip"),
        (5, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    out = {r["docID"]: r for r in pii_scrub(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (2, 0, 0)
    assert "alice@example.org" not in out[1]["clean"] and "|||EMAIL|||" in out[1]["clean"]
    assert out[2]["n_ips"] == 2 and "|||IP|||" in out[2]["clean"]
    assert out[3]["n_phones"] == 1 and "|||PHONE|||" in out[3]["clean"]
    # email masking runs first: the host part never double-counts as an IP
    assert out[4]["n_emails"] == 1 and out[4]["n_ips"] == 0
    assert (out[5]["n_emails"], out[5]["n_ips"], out[5]["n_phones"]) == (0, 0, 0)
    assert out[5]["clean"] == "nothing sensitive here"


def test_funnel_strict_order_and_window(spark):
    from neural_search_spark.pipeline.events import funnel

    us = 1_000_000

    def ev(eid, uid, sec, typ):
        import datetime

        return (eid, uid, datetime.datetime(2024, 1, 1, 0, 0, sec), typ)

    rows = [
        # user 1 converts fully in order
        ev(1, 1, 1, "view"), ev(2, 1, 2, "click"), ev(3, 1, 3, "purchase"),
        # user 2: click BEFORE view -> stalls at view
        ev(4, 2, 1, "click"), ev(5, 2, 2, "view"),
        # user 3: converts but purchase falls outside the 5 s window
        ev(6, 3, 1, "view"), ev(7, 3, 2, "click"), ev(8, 3, 30, "purchase"),
        # user 4: never views
        ev(9, 4, 1, "purchase"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = {r["step"]: r["users"] for r in funnel(df, ["view", "click", "purchase"], 5 * us).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}
    # unbounded window lets user 3's late purchase chain
    out2 = {r["step"]: r["users"] for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert out2 == {"view": 3, "click": 2, "purchase": 2}
    import pytest

    with pytest.raises(ValueError, match="at least one step"):
        funnel(df, [])


def test_line_dedup_removes_cross_doc_lines(spark):
    from neural_search_spark.pipeline.textstats import line_dedup

    rows = [
        (0, "unique alpha\nall rights reserved\nunique beta"),
        (1, "All Rights Reserved \nonly here"),  # case/trailing-space variant
        (2, "solo document with no shared lines"),
        (3, "repeated inside\nrepeated inside"),  # within-doc dup, 1 distinct doc
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    out = {r["docID"]: r for r in line_dedup(df, min_docs=2).collect()}
    # 'all rights reserved' appears in docs 0 and 1 (normalized) -> dropped
    assert out[0]["clean"] == "unique alpha\nunique beta"
    assert (out[0]["n_lines"], out[0]["n_removed"]) == (3, 1)
    assert out[1]["clean"] == "only here"
    # untouched doc reassembles verbatim
    assert out[2]["clean"] == rows[2][1] and out[2]["n_removed"] == 0
    # within-doc repetition alone never crosses the distinct-doc threshold
    assert out[3]["clean"] == rows[3][1] and out[3]["n_removed"] == 0


def test_line_dedup_can_empty_a_doc(spark):
    from neural_search_spark.pipeline.textstats import line_dedup

    rows = [(0, "shared line"), (1, "shared line"), (2, "shared line\nkept")]
    df = spark.createDataFrame(rows, "docID long, content string")
    out = {r["docID"]: r for r in line_dedup(df, min_docs=2).collect()}
    assert out[0]["clean"] == "" and out[0]["n_removed"] == 1
    assert out[2]["clean"] == "kept"


def test_vocab_topk_order_floor_and_ties(spark):
    from neural_search_spark.pipeline.textstats import vocab_topk

    rows = [(0, "b b b a a c z"), (1, "a b d d")]
    df = spark.createDataFrame(rows, "docID long, content string")
    got = [(r["term"], r["cnt"]) for r in vocab_topk(df, k=3, min_count=2).collect()]
    # b=4, a=3, d=2; ties broken term-asc; c/z fall under min_count
    assert got == [("b", 4), ("a", 3), ("d", 2)]
    got2 = [(r["term"], r["cnt"]) for r in vocab_topk(df, k=2, min_count=1).collect()]
    assert got2 == [("b", 4), ("a", 3)]


def test_gopher_rules_signals_and_keep(spark):
    from neural_search_spark.pipeline import textstats as T

    long_good = "the good text is made of many plain words " * 6  # 54 words, has stopwords
    bullets = "- one\n- two\n- three"
    dots = "first line...\nsecond line...\nthird line"
    short = "tiny doc"
    rows = [(0, long_good), (1, bullets), (2, dots), (3, short)]
    df = spark.createDataFrame(rows, "docID long, content string")
    out = {r["docID"]: r for r in T.gopher_rules(df).collect()}
    assert out[0]["n_words"] == 54 and out[0]["stop_hits"] >= 2
    assert out[0]["keep"] == 1
    assert out[1]["bullet_frac"] == 1.0 and out[1]["keep"] == 0
    assert abs(out[2]["ellipsis_frac"] - 2 / 3) < 1e-6 and out[2]["keep"] == 0
    # short doc fails the 50-word floor even with clean signals
    assert out[3]["n_words"] == 2 and out[3]["keep"] == 0


def test_shuffle_order_dense_deterministic_and_seeded(spark):
    from neural_search_spark.pipeline.training import shuffle_order

    df = spark.createDataFrame([(i,) for i in range(97)], "docID long")
    a = {r["docID"]: r["pos"] for r in shuffle_order(df, n_ranges=7).collect()}
    b = {r["docID"]: r["pos"] for r in shuffle_order(df, n_ranges=3).collect()}
    # dense 0..n-1, independent of partitioning
    assert sorted(a.values()) == list(range(97))
    assert a == b
    # matches the definition: rank in (hash32, docID) order
    exp = sorted(range(97), key=lambda d: (P.hash32_py(f"shuffle-v1:{d}"), d))
    assert [d for d, _ in sorted(a.items(), key=lambda kv: kv[1])] == exp
    # a different seed re-deals
    c = {r["docID"]: r["pos"] for r in shuffle_order(df, seed="shuffle-v2").collect()}
    assert c != a and sorted(c.values()) == list(range(97))


def test_ccnet_ppl_buckets_sizes_and_order(spark):
    """CCNet head/middle/tail: per-lang bucket sizes follow the shared
    floor((r-1)*3/c) arithmetic, buckets partition the corpus, and ppl
    ranges are non-overlapping in bucket order (head = lowest ppl)."""
    from neural_search_spark.pipeline.textstats import ccnet_ppl_buckets

    rows = []
    # lang 'a': 7 docs with increasingly rare vocabulary (common word
    # 'the' repeated vs singleton terms) -> strictly ordered ppl
    for i in range(7):
        rows.append((i, " ".join(["the"] * (7 - i) + [f"rare{i}x{j}" for j in range(i)]), "a"))
    # lang 'b': 5 docs, same construction
    for i in range(5):
        rows.append((100 + i, " ".join(["the"] * (5 - i) + [f"odd{i}y{j}" for j in range(i)]), "b"))
    df = spark.createDataFrame(rows, "docID long, content string, lang string")
    got = ccnet_ppl_buckets(df).collect()

    sizes = {(r["lang"], r["bucket"]): r["n_docs"] for r in got}
    # c=7: floor((r-1)*3/7) for r=1..7 -> [0,0,0,1,1,2,2]
    assert sizes[("a", "head")] == 3 and sizes[("a", "middle")] == 2 and sizes[("a", "tail")] == 2
    # c=5: floor((r-1)*3/5) for r=1..5 -> [0,0,1,1,2]
    assert sizes[("b", "head")] == 2 and sizes[("b", "middle")] == 2 and sizes[("b", "tail")] == 1
    assert sum(sizes.values()) == 12
    for lang in ("a", "b"):
        by = {r["bucket"]: r for r in got if r["lang"] == lang}
        assert by["head"]["ppl_hi"] <= by["middle"]["ppl_lo"]
        assert by["middle"]["ppl_hi"] <= by["tail"]["ppl_lo"]
