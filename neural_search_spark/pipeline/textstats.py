"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All four are pure column expressions (JVM codegen, zero Python in the hot
path) sharing constants with the DuckDB oracles via
:mod:`neural_search_spark.pipeline.params`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import analyzed_tokens
from neural_search_spark.pipeline import params as P


def _stopword_count(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def token_counts(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, ws_tokens, bpe_ish_tokens): whitespace split count + a
    BPE-style pre-tokenizer count (words | numbers | single punct)."""
    # patterns passed as literal Columns (not SQL string literals) so the
    # backslashes reach the regex engine un-mangled
    ws = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0)))
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(P.BPE_ISH_PATTERN), F.lit(0))
    )
    return df.select(
        F.col(id_col).alias("docID"),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    )


def lang_id(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, pred_lang): stopword-hit language heuristic.

    argmax over per-language stopword hit counts; ties break by
    params.LANGS order (first wins); zero hits everywhere → 'und'.
    """
    toks = analyzed_tokens(text_col)
    counts = {lang: _stopword_count(toks, P.STOPWORDS[lang]) for lang in P.LANGS}
    g = F.greatest(*counts.values())
    pred = F.when(g == 0, F.lit("und"))
    for lang in P.LANGS:
        pred = pred.when(counts[lang] == g, F.lit(lang))
    return df.select(F.col(id_col).alias("docID"), pred.alias("pred_lang"))


def quality_scores(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, n_chars, n_tokens, alpha_ratio, punct_ratio, stopword_ratio,
    mean_token_len, quality): length/punctuation/stopword heuristics.

    quality = alpha_ratio * (1 - punct_ratio) * least(n_tokens/64, 1) —
    a simple monotone composite; the contract is determinism, not a
    claim about linguistic quality.
    """
    toks = analyzed_tokens(text_col)
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(toks).cast("long")
    alpha = F.length(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", "")).cast("double")
    punct = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[^a-zA-Z0-9\s]"), F.lit(0))
    ).cast("double")
    stop = _stopword_count(toks, P.QUALITY_STOPWORDS).cast("double")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop / n_tokens).otherwise(F.lit(0.0))
    mean_tok = F.when(n_tokens > 0, tok_chars / n_tokens).otherwise(F.lit(0.0))
    quality = alpha_ratio * (F.lit(1.0) - punct_ratio) * F.least(
        n_tokens.cast("double") / F.lit(64.0), F.lit(1.0)
    )
    return df.select(
        F.col(id_col).alias("docID"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        P.round4(alpha_ratio).alias("alpha_ratio"),
        P.round4(punct_ratio).alias("punct_ratio"),
        P.round4(stop_ratio).alias("stopword_ratio"),
        P.round4(mean_tok).alias("mean_token_len"),
        P.round4(quality).alias("quality"),
    )


#: default calibration ladder for quality_threshold_sweep
QUALITY_THRESHOLDS = (0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def quality_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = QUALITY_THRESHOLDS,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """Keep-rate calibration table for the quality filter: for each
    candidate threshold, how many documents and how many tokens survive
    ``quality >= t`` → (threshold, docs_kept, doc_keep_rate, tokens_kept,
    token_keep_rate). This is the table a pipeline owner reads to pick the
    cutoff that hits a token budget — sweeping thresholds by re-running
    the filter is T corpus passes; this is ONE.

    Scale shape: a single aggregate with 2·T+2 conditional sums (map-side
    partial, one exchange to a 1-row result), then a driver-side
    posexplode of the bounded ladder — never a per-threshold pass and
    never a row blowup before the aggregate."""
    if not thresholds or list(thresholds) != sorted(set(thresholds)):
        raise ValueError("thresholds must be non-empty, strictly increasing")
    q = quality_scores(df, text_col, id_col).select("n_tokens", "quality")
    aggs = [
        F.count("*").alias("_n"),
        F.sum("n_tokens").alias("_tok"),
    ]
    for i, t in enumerate(thresholds):
        keep = F.col("quality") >= F.lit(float(t))
        aggs.append(F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(f"_d{i}"))
        aggs.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"_t{i}")
        )
    row = q.agg(*aggs)
    ladder = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.col(f"_d{i}").alias("docs_kept"),
                F.col(f"_t{i}").alias("tokens_kept"),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    return (
        row.select("_n", "_tok", F.explode(ladder).alias("_e"))
        .select(
            F.col("_e.threshold").alias("threshold"),
            F.col("_e.docs_kept").alias("docs_kept"),
            P.round4(F.col("_e.docs_kept") / F.col("_n")).alias("doc_keep_rate"),
            F.col("_e.tokens_kept").alias("tokens_kept"),
            P.round4(F.col("_e.tokens_kept") / F.col("_tok")).alias("token_keep_rate"),
        )
        .orderBy("threshold")
    )


def fingerprints(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, fingerprint): rolling polynomial hash over analyzed tokens,
    acc = (acc*31 + hash32(token)) mod P. Order-sensitive (unlike the
    shingle-set hashes), so it fingerprints the document *sequence*."""
    toks = analyzed_tokens(text_col)
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * F.lit(P.FINGERPRINT_MULT)
            + F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        )
        % F.lit(P.MERSENNE_P),
    )
    return df.select(F.col(id_col).alias("docID"), fp.alias("fingerprint"))


def repetition_stats(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
    line_delim: str = "\n",
) -> DataFrame:
    """(docID, n_lines, dup_line_frac, n_bigrams, top_bigram_frac):
    within-document repetition signals (the Gopher/MassiveText quality
    filters — fraction of duplicate lines, fraction of all word 2-grams
    taken by the most frequent one). High values flag boilerplate /
    degenerate generations before training.

    Scale shape: line stats are pure array expressions (codegen); the
    top-bigram mode needs a per-(doc, bigram) count, which is one
    hash-partitioned explode + two groupBys keyed by docID — the same
    irreducible payload as the shingle ops, no all-pairs anywhere.
    Ratios are rounded to 6 dp (the engine/oracle float contract).
    """
    import re

    lines = F.split(F.col(text_col), re.escape(line_delim))
    n_lines = F.size(lines).cast("long")
    n_dist = F.size(F.array_distinct(lines)).cast("long")
    dup_frac = F.when(
        n_lines > 0, (n_lines - n_dist).cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    base = df.select(
        F.col(id_col).alias("docID"),
        n_lines.alias("n_lines"),
        P.round6(dup_frac).alias("dup_line_frac"),
        analyzed_tokens(text_col).alias("_toks"),
    )
    bigrams = base.select(
        "docID",
        F.when(
            F.size("_toks") >= 2,
            F.expr(
                "transform(sequence(1, size(_toks) - 1),"
                " i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_bi"),
    )
    counts = (
        bigrams.select("docID", F.explode_outer("_bi").alias("bigram"))
        .groupBy("docID", "bigram")
        .agg(F.count(F.col("bigram")).alias("c"))
        .groupBy("docID")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_c"),
        )
    )
    out = base.join(counts, "docID", "left").select(
        "docID",
        "n_lines",
        "dup_line_frac",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        P.round6(
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.col("top_c").cast("double") / F.col("n_bigrams"),
            ).otherwise(F.lit(0.0))
        ).alias("top_bigram_frac"),
    )
    return out


def with_contact_lines(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """Deterministically append a synthetic contact line to every 5th doc —
    the test corpus is word soup with no real PII, so the fixture plants
    some (the multimodal ops' ``with_binary_payload`` pattern: fake data,
    real plumbing). Pure column concat, reproduced verbatim by the oracle
    SQL, so both engines scrub the identical text."""
    d = F.col(id_col)
    contact = F.concat(
        F.lit(" contact user"), d.cast("string"),
        F.lit("@example.com or +1415550"), (d % 1000).cast("string"),
        F.lit(" from 10."), (d % 256).cast("string"), F.lit(".0.13"),
    )
    text = F.when(d % 5 == 0, F.concat(F.col(text_col), contact)).otherwise(F.col(text_col))
    return df.withColumn(text_col, text)


BOILERPLATE_LINES = (
    (3, "subscribe to our newsletter today"),
    (4, "all rights reserved"),
    (7, "click here to accept cookies"),
)


def with_boilerplate_lines(
    df: DataFrame, text_col: str = "content", id_col: str = "docID"
) -> DataFrame:
    """Deterministically append boilerplate lines to subsets of docs — the
    synthetic corpus is word soup with no cross-document repeated lines, so
    the fixture plants some (every 3rd doc gets a newsletter plug, every
    4th a copyright footer, every 7th a cookie banner). Pure column
    concat, reproduced verbatim by the oracle SQL."""
    d = F.col(id_col)
    text = F.col(text_col)
    for mod, line in BOILERPLATE_LINES:
        text = F.when(d % mod == 0, F.concat(text, F.lit("\n" + line))).otherwise(text)
    return df.withColumn(text_col, text)


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(docID, n_lines, n_removed, clean): corpus-level boilerplate-line
    removal (the CCNet/RefinedWeb paragraph-dedup pass): a line whose
    normalized form (``lower(trim(line))``) appears in >= ``min_docs``
    DISTINCT documents is dropped from every document; survivors are
    re-joined in original order. Empty lines participate like any other
    (a blank line common to ``min_docs`` docs is removed everywhere).

    Scale shape: three key-partitioned shuffles and nothing else —
    (1) count distinct docs per normalized line (partial-agg combine on
    the line key), (2) shuffle hash join of lines against the per-line
    counts on the same key (the frequent set is unbounded at corpus
    scale, so no broadcast), (3) re-group by docID to reassemble. Order
    is restored from the carried ``pos`` (posexplode), never a global
    sort; no driver-side state of any size.
    """
    lines = df.select(
        F.col(id_col).alias("docID"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("key", F.lower(F.trim(F.col("line"))))
    counts = lines.groupBy("key").agg(F.countDistinct("docID").alias("nd"))
    flagged = lines.join(counts, "key").withColumn(
        "freq", F.col("nd") >= F.lit(int(min_docs))
    )
    kept_struct = F.when(~F.col("freq"), F.struct("pos", "line"))
    return flagged.groupBy("docID").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("freq").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
            ),
            "\n",
        ).alias("clean"),
    )


def vocab_topk(
    df: DataFrame,
    k: int = 512,
    min_count: int = 2,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(term, cnt): tokenizer-vocabulary construction — the top-``k``
    analyzed tokens by corpus frequency, ties broken lexicographically,
    tokens below ``min_count`` excluded (the WordLevel/BPE-seed vocab
    step of a pretraining pipeline).

    Scale shape: the classic distributed word count — explode + one
    hash-partitioned groupBy with map-side partial aggregation, then
    ``TakeOrderedAndProject`` for the global top-k (per-partition heaps,
    driver merges k rows per partition; never a global sort).
    """
    toks = df.select(F.explode(analyzed_tokens(text_col)).alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .where(F.col("cnt") >= int(min_count))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(int(k))
    )


GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_word_frac, stop_hits, keep): the Gopher /
    MassiveText document-quality rule set (Rae et al. 2021, table A1),
    each signal exposed plus the conjunctive keep decision:

    - 50 <= word count <= 100,000 (whitespace words)
    - 3 <= mean word length <= 10
    - hash-or-ellipsis symbols per word <= 0.1
    - < 90% of lines start with a bullet ('-', '*', '•')
    - <= 30% of lines end with an ellipsis ('...' or '…')
    - >= 80% of words contain at least one alphabetic character
    - >= 2 distinct hits among 8 required English stopwords

    Pure column expressions over array functions — zero Python, zero
    shuffle: streams at scan speed like :func:`quality_scores`. Ratios
    round to 6 dp (the engine/oracle float contract).
    """
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: F.length(w) > 0
    )
    lines = F.split(F.col(text_col), "\n")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("double")
    word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ).cast("double")
    mean_len = F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    symbols = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\.|…"), F.lit(0))
    ).cast("double")
    symbol_ratio = F.when(n_words > 0, symbols / n_words).otherwise(F.lit(0.0))
    bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ).cast("double")
    ellipsis = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"))
    ).cast("double")
    bullet_frac = F.when(n_lines > 0, bullet / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(n_lines > 0, ellipsis / n_lines).otherwise(F.lit(0.0))
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("double")
    alpha_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))
    toks = analyzed_tokens(text_col)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(toks, s),
        )
    ).cast("long")
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac < GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return df.select(
        F.col(id_col).alias("docID"),
        n_words.alias("n_words"),
        P.round6(mean_len).alias("mean_word_len"),
        P.round6(symbol_ratio).alias("symbol_ratio"),
        P.round6(bullet_frac).alias("bullet_frac"),
        P.round6(ellipsis_frac).alias("ellipsis_frac"),
        P.round6(alpha_frac).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        keep.cast("int").alias("keep"),
    )


def pii_scrub(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, n_emails, n_ips, n_phones, clean): count then mask emails /
    IPv4s / phone numbers with sentinel tokens (CCNet/Dolma pre-training
    hygiene). Counts come from ``regexp_count``-style extraction, masking
    from chained global ``regexp_replace`` — all JVM codegen, zero
    Python, zero shuffle: the op is a pure projection that streams at
    scan speed no matter the corpus size.

    Order matters: emails are masked FIRST so the host part of
    ``user@10.2.3.4``-style addresses is counted as an email, not an IP
    (the IP count runs on the email-masked text; phone masking runs last
    on the result). The oracle SQL applies the same chain."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(P.PII_EMAIL_PATTERN), F.lit(0)))
    no_email = F.regexp_replace(t, P.PII_EMAIL_PATTERN, P.PII_EMAIL_TOKEN)
    n_ips = F.size(F.regexp_extract_all(no_email, F.lit(P.PII_IPV4_PATTERN), F.lit(0)))
    no_ip = F.regexp_replace(no_email, P.PII_IPV4_PATTERN, P.PII_IPV4_TOKEN)
    n_phones = F.size(F.regexp_extract_all(no_ip, F.lit(P.PII_PHONE_PATTERN), F.lit(0)))
    clean = F.regexp_replace(no_ip, P.PII_PHONE_PATTERN, P.PII_PHONE_TOKEN)
    return df.select(
        F.col(id_col).alias("docID"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
        clean.alias("clean"),
    )


# -- token-distribution quality (perplexity proxy) --------------------------
ENTROPY_MIN_BITS = 2.0  # floor on unigram entropy (bits/token) for keep
ENTROPY_MIN_TOKENS = 10  # too-short docs are dropped regardless


def entropy_stats(
    df: DataFrame, text_col: str = "content", id_col: str = "docID"
) -> DataFrame:
    """(docID, n_tokens, distinct_terms, entropy, ttr, keep) — unigram
    token-distribution signals used as a model-free perplexity proxy in
    pretraining filters (low-entropy docs are keyboard-mash / template /
    single-token spam; CCNet uses an LM, this is the cheap first gate).

    entropy = −Σ p·log2 p over the doc's unigram distribution, computed as
    ``log2(dl) − Σ tf·log2(tf) / dl`` so one aggregation pass suffices;
    ttr = distinct/total (type-token ratio). keep = entropy ≥ 2 bits AND
    ≥ 10 tokens. Docs with zero analyzed tokens are absent (same contract
    as :func:`token_counts`).

    Scale shape: explode + one hash-partitioned (docID, term) groupBy with
    map-side combine, then a docID groupBy that re-uses the same
    partitioning — no second exchange at 100 TB if
    ``spark.sql.shuffle.partitions`` keys on docID first.
    """
    toks = df.select(F.col(id_col).alias("docID"), F.explode(analyzed_tokens(text_col)).alias("term"))
    tf = toks.groupBy("docID", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    per = tf.groupBy("docID").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("distinct_terms"),
        F.sum(F.col("tf") * F.log2("tf")).alias("_tlog"),
    )
    dl = F.col("n_tokens").cast("double")
    ent = F.log2(dl) - F.col("_tlog") / dl
    # The keep gate compares a float sum accumulated in engine-dependent
    # order; quantize (round6, the repo's float contract) BEFORE the >=
    # so a doc sitting exactly at the boundary can't flip between engines.
    return per.select(
        "docID",
        "n_tokens",
        "distinct_terms",
        F.round(ent, 4).alias("entropy"),
        F.round(F.col("distinct_terms").cast("double") / dl, 4).alias("ttr"),
        (
            (F.round(ent, 6) >= F.lit(ENTROPY_MIN_BITS))
            & (F.col("n_tokens") >= F.lit(ENTROPY_MIN_TOKENS))
        ).alias("keep"),
    )


# -- OOV rate against a built vocabulary ------------------------------------
OOV_VOCAB_K = 256  # vocabulary size used by the driver key
OOV_VOCAB_MIN_COUNT = 2


def oov_rates(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(docID, n_tokens, n_oov, oov_rate): per-document out-of-vocabulary
    token fraction against a built vocabulary (one ``term`` column, e.g.
    :func:`vocab_topk` output) — the coverage check run after building a
    tokenizer vocab, and a standard quality signal (high OOV ⇒ noise or
    wrong language for the target tokenizer).

    Scale shape: the vocabulary is top-k-sized so it BROADCASTS; the corpus
    side is one tokenize + map-side hash probe + one docID groupBy — the
    token stream itself is never shuffled by term. Docs with zero analyzed
    tokens are absent (same contract as :func:`token_counts`)."""
    toks = df.select(F.col(id_col).alias("docID"), F.explode(analyzed_tokens(text_col)).alias("term"))
    v = F.broadcast(vocab.select("term").distinct().withColumn("_in_v", F.lit(1)))
    return (
        toks.join(v, "term", "left")
        .groupBy("docID")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_v").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        )
        .select(
            "docID",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


def doc_keywords(
    df: DataFrame, k: int = 3, text_col: str = "content", id_col: str = "docID"
) -> DataFrame:
    """(docID, rank, term, tfidf): per-document top-``k`` keyword
    extraction by tf·idf — the classic salience signal used for
    weak-supervision labels, dataset cards, and MLT-style related-doc
    seeds. Ranking uses the integer-exact proxy (tf desc, df asc, term
    asc) — the same monotone stand-in for tf·idf the MLT term selector
    uses — so the per-doc cut is reproducible across engines; the
    reported ``tfidf`` value is tf · ln(1 + (N − df + 0.5)/(df + 0.5))
    (the BM25 idf).

    Scale shape: one (docID, term) groupBy, one vocabulary-sized term
    groupBy for df, a broadcast-able 1-row total, and a window
    partitioned on docID — no global sort; the window's sort is per-doc
    vocabulary-sized."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col).alias("docID"), F.explode(analyzed_tokens(text_col)).alias("term"))
    tf = toks.groupBy("docID", "term").agg(F.count(F.lit(1)).alias("tf"))
    nd = tf.groupBy("term").agg(F.count(F.lit(1)).alias("ndoc"))
    tot = df.select(F.countDistinct(id_col).cast("double").alias("_n"))
    w = Window.partitionBy("docID").orderBy(
        F.col("tf").desc(), F.col("ndoc").asc(), F.col("term").asc()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("ndoc") + F.lit(0.5)) / (F.col("ndoc") + F.lit(0.5))
    )
    return (
        # the per-term df table is vocabulary-sized (bounded, zipf-thin) —
        # broadcasting it keeps the big (docID, term) side un-shuffled
        # until the per-doc window (SortMergeJoin cost two exchanges here)
        tf.join(F.broadcast(nd), "term")
        .crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            "docID",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.round(F.col("tf").cast("double") * idf, 4).alias("tfidf"),
        )
    )


def unigram_ppl(
    df: DataFrame, text_col: str = "content", id_col: str = "docID"
) -> DataFrame:
    """(docID, n_tokens, avg_nll, ppl): the CCNet-style LM quality signal
    with the corpus's OWN unigram model as the stand-in LM (CCNet uses a
    KenLM 5-gram; the unigram corpus model is the deterministic,
    dependency-free analog): P(t) = corpus_count(t)/total_tokens,
    avg_nll = Σ tf·(−log2 P) / dl bits/token, ppl = 2^avg_nll.
    High-perplexity docs are rare-token-heavy (noise, wrong language,
    mangled encodings); CCNet buckets the corpus by ppl percentile.

    Scale shape: the unigram model is the classic distributed word count
    (at 100 TB it is computed once per corpus release and reused); scoring
    joins the per-doc tf table — already (docID, term)-reduced, far
    smaller than the raw token stream — to the model on the term key, one
    hash exchange, then one docID groupBy."""
    toks = df.select(F.col(id_col).alias("docID"), F.explode(analyzed_tokens(text_col)).alias("term"))
    tf = toks.groupBy("docID", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    cnt = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").cast("double").alias("_tot"))
    # vocabulary-sized model table → broadcast; the (docID, term) side
    # flows shuffle-free from its aggregation into the scoring join
    j = tf.join(F.broadcast(cnt), "term").crossJoin(F.broadcast(tot))
    per = j.groupBy("docID").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * -F.log2(F.col("cnt") / F.col("_tot"))).alias("_mass"),
    )
    nll = F.col("_mass") / F.col("n_tokens").cast("double")
    return per.select(
        "docID",
        "n_tokens",
        F.round(nll, 4).alias("avg_nll"),
        F.round(F.pow(F.lit(2.0), nll), 4).alias("ppl"),
    )


def ccnet_ppl_buckets(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(lang, bucket, n_docs, ppl_lo, ppl_hi): the CCNet head/middle/tail
    corpus split (Wenzek et al. 2020) — rank every document within its
    language by :func:`unigram_ppl` perplexity (ascending: lowest-ppl
    third = ``head``, the highest-quality slice CCNet trains on first)
    and cut the ranking into thirds.

    Bucket contract (shared verbatim with the DuckDB oracle): with r the
    1-indexed (ppl, docID)-ordered rank within the language and c the
    language's doc count, bucket index = floor((r−1)·3 / c) — thirds that
    differ by at most one doc, deterministic under ties because docID
    breaks them.

    Scale shape: NO per-language single-reducer sort. The rank is the
    two-stage distributed scan used by :func:`training.pack_plan`:
    range-partition by (lang, ppl, docID), per-partition local
    row_numbers, then a tiny (partition × lang) count table is prefix-
    summed per language by a window and broadcast back as base offsets —
    O(n_ranges · n_langs) rows regardless of corpus size. (CCNet
    itself computes per-language ppl *thresholds* once per release from a
    sample; the rank formulation is the exact, artifact-free equivalent.)
    """
    from pyspark.sql import Window

    ppl = unigram_ppl(df, text_col=text_col, id_col=id_col).select("docID", "ppl")
    langs = df.select(F.col(id_col).alias("docID"), F.col(lang_col).alias("lang"))
    scored = ppl.join(langs, "docID")
    parts = scored.repartitionByRange(32, "lang", "ppl", "docID").withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid", "lang").orderBy("ppl", "docID")
    local = parts.withColumn("_lr", F.row_number().over(w)).persist()
    # per (partition, lang): base = docs of that lang in earlier
    # partitions, _n = the lang's doc count — windows over the
    # (partition × lang) count aggregate
    by_lang = Window.partitionBy("lang")
    off_df = F.broadcast(
        local.groupBy("_pid", "lang")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_pid",
            "lang",
            F.coalesce(
                F.sum("_c").over(
                    by_lang.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_off"),
            F.sum("_c").over(by_lang).alias("_n"),
        )
    )
    rank = F.col("_lr") + F.col("_off")  # 1-indexed rank within lang
    bidx = F.floor((rank - 1) * 3 / F.col("_n"))
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (bidx + 1).cast("int"),
    )
    return (
        local.join(off_df, ["_pid", "lang"])
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ppl").alias("ppl_lo"),
            F.max("ppl").alias("ppl_hi"),
        )
        .orderBy("lang", "bucket")
    )


def dsir_weights(
    df: DataFrame,
    target_expr: str,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(docID, n_tokens, logratio, keep) — DSIR-style importance weights
    for data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"; unigram stand-in for its hashed
    n-gram features): score every doc by how target-like its token
    distribution is, logratio = Σ tf·(ln p_target − ln p_corpus) / dl
    with add-1-smoothed unigram LMs over the corpus vocabulary,
    ``target_expr`` (a boolean SQL expression over the input columns,
    e.g. ``lang = 'java'``) defining the target slice. keep = quantized
    (round6) logratio ≥ 0 — the "more target-like than corpus-average"
    selection gate; rounding before the gate keeps boundary docs from
    flipping between engines.

    Scale shape: both LMs are distributed word counts — the target one
    over the (tiny) target slice, the corpus one reused per release; the
    scalars (vocab size, token totals) are a 1-row broadcast; scoring
    joins the (docID, term)-reduced tf table against the vocab-keyed LM
    table — one term-hash exchange, one docID groupBy, the corpus token
    stream itself never shuffles."""
    toks = df.select(
        F.col(id_col).alias("docID"),
        F.expr(target_expr).alias("_is_t"),
        F.explode(analyzed_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("docID", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.first("_is_t").alias("_is_t"),
    )
    lm = tf.groupBy("term").agg(
        F.sum("tf").alias("cnt_c"),
        F.sum(F.when(F.col("_is_t"), F.col("tf")).otherwise(0.0)).alias("cnt_t"),
    )
    scal = F.broadcast(
        lm.agg(
            F.count(F.lit(1)).cast("double").alias("_v"),
            F.sum("cnt_c").alias("_nc"),
            F.sum("cnt_t").alias("_nt"),
        )
    )
    ratio = F.log((F.col("cnt_t") + 1.0) / (F.col("_nt") + F.col("_v"))) - F.log(
        (F.col("cnt_c") + 1.0) / (F.col("_nc") + F.col("_v"))
    )
    # vocabulary-sized LM table → broadcast (same reasoning as unigram_ppl)
    j = tf.join(F.broadcast(lm), "term").crossJoin(scal)
    per = j.groupBy("docID").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * ratio).alias("_mass"),
    )
    lr = F.col("_mass") / F.col("n_tokens").cast("double")
    # + 0.0 canonicalizes IEEE -0.0 to 0.0 (a doc whose mass rounds to
    # zero must hash identically across engines)
    return per.select(
        "docID",
        "n_tokens",
        (F.round(lr, 4) + F.lit(0.0)).alias("logratio"),
        (F.round(lr, 6) >= 0.0).alias("keep"),
    )
