"""Text-chunking processors (reference ``text_chunking`` ingest processor,
``processor/TextChunkingProcessor.java:51``) as Arrow-batched UDFs.

Three algorithms, semantics copied from the reference behavior (not code):

- ``delimiter`` (``processor/chunker/DelimiterChunker.java:66-95``): split
  on a literal delimiter; the delimiter stays attached to the *preceding*
  chunk; a trailing remainder is kept only if non-empty.
- ``fixed_token_length`` (``processor/chunker/FixedTokenLengthChunker.java:119-156``):
  window of ``token_limit`` tokens advancing by ``token_limit − ⌊token_limit ×
  overlap_rate⌋``; chunk text is sliced from the source by token *start
  offsets* (first chunk starts at 0; a final short window extends to the end
  of the source), so concatenating chunks with overlap removed round-trips
  the original text exactly.
- ``fixed_char_length`` (``processor/chunker/FixedCharLengthChunker.java:86-120``):
  window of ``char_limit`` chars advancing by ``char_limit − ⌊char_limit ×
  overlap_rate⌋``; the last chunk extends to the end.

``max_chunk_limit`` (default 100, −1 disables; base
``processor/chunker/Chunker.java``): chunking stops once
``len(chunks) + chunk_string_count > max_chunk_limit − 1`` and the whole
remainder becomes the final chunk (delimiter: remainder appended as-is).

Overlap rate must lie in [0, 0.5] — reference validation.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from neural_search_spark.analysis.tokenizer import TOKEN_RE

DEFAULT_MAX_CHUNK_LIMIT = 100
DISABLED_MAX_CHUNK_LIMIT = -1
DEFAULT_DELIMITER = "\n\n"
DEFAULT_TOKEN_LIMIT = 384
DEFAULT_CHAR_LIMIT = 2048

#: Word tokenizers accepted by the reference chunker
#: (``processor/chunker/FixedTokenLengthChunker.java:56-64``,
#: ``DEFAULT_TOKENIZER = "standard"`` ``:51``; tokenization goes through the
#: analysis registry ``:158-169``). Offset-based slicing means a tokenizer
#: only needs token START offsets; stand-ins below give each name a
#: deterministic start-offset rule. Names outside the set are rejected like
#: the reference's ``validateTokenizer``.
DEFAULT_TOKENIZER = "standard"
_WHITESPACE_RE = re.compile(r"\S+")
_LETTER_RE = re.compile(r"[^\W\d_]+", re.UNICODE)
_TOKENIZERS = {
    # the repo's standard tokenizer (lowercase + word pattern)
    "standard": lambda content: TOKEN_RE.finditer(content.lower()),
    # maximal non-whitespace runs
    "whitespace": lambda content: _WHITESPACE_RE.finditer(content),
    # maximal letter-only runs (digits/punct break tokens)
    "letter": lambda content: _LETTER_RE.finditer(content),
    # lowercase = letter tokenizer + lowercasing; offsets match `letter`
    "lowercase": lambda content: _LETTER_RE.finditer(content.lower()),
}


def token_start_offsets(content: str, tokenizer: str = DEFAULT_TOKENIZER) -> list[int]:
    """Token START offsets under a named tokenizer — the only analyzer
    output the offset-slicing chunk loop consumes."""
    if tokenizer not in _TOKENIZERS:
        raise ValueError(
            f"Tokenizer {tokenizer!r} is not supported; supported: "
            + ", ".join(sorted(_TOKENIZERS))
        )
    return [m.start() for m in _TOKENIZERS[tokenizer](content)]


def _validate_overlap(overlap_rate: float) -> None:
    if not 0.0 <= overlap_rate <= 0.5:
        raise ValueError("overlap_rate must be within [0.0, 0.5]")


def _limit_hit(n_chunks: int, max_chunk_limit: int, chunk_string_count: int) -> bool:
    return (
        max_chunk_limit != DISABLED_MAX_CHUNK_LIMIT
        and n_chunks + chunk_string_count >= max_chunk_limit
    )


def chunk_delimiter(
    content: str,
    delimiter: str = DEFAULT_DELIMITER,
    max_chunk_limit: int = DEFAULT_MAX_CHUNK_LIMIT,
    chunk_string_count: int = 1,
) -> list[str]:
    if not delimiter:
        raise ValueError("delimiter must be a non-empty string")
    out: list[str] = []
    start = 0
    nxt = content.find(delimiter)
    while nxt != -1:
        if _limit_hit(len(out), max_chunk_limit, chunk_string_count):
            break
        end = nxt + len(delimiter)
        out.append(content[start:end])
        start = end
        nxt = content.find(delimiter, start)
    if start < len(content):
        out.append(content[start:])
    return out


def chunk_fixed_tokens(
    content: str,
    token_limit: int = DEFAULT_TOKEN_LIMIT,
    overlap_rate: float = 0.0,
    max_chunk_limit: int = DEFAULT_MAX_CHUNK_LIMIT,
    chunk_string_count: int = 1,
    tokenizer: str = DEFAULT_TOKENIZER,
) -> list[str]:
    _validate_overlap(overlap_rate)
    if token_limit <= 0:
        raise ValueError("token_limit must be positive")
    starts = token_start_offsets(content, tokenizer)
    out: list[str] = []
    overlap = math.floor(token_limit * overlap_rate)
    i = 0
    while i < len(starts):
        s = 0 if i == 0 else starts[i]
        if _limit_hit(len(out), max_chunk_limit, chunk_string_count):
            out.append(content[s:])
            break
        if i + token_limit >= len(starts):
            out.append(content[s:])
            break
        out.append(content[s : starts[i + token_limit]])
        i += token_limit - overlap
    return out


def chunk_fixed_chars(
    content: str,
    char_limit: int = DEFAULT_CHAR_LIMIT,
    overlap_rate: float = 0.0,
    max_chunk_limit: int = DEFAULT_MAX_CHUNK_LIMIT,
    chunk_string_count: int = 1,
) -> list[str]:
    _validate_overlap(overlap_rate)
    if char_limit <= 0:
        raise ValueError("char_limit must be positive")
    out: list[str] = []
    interval = char_limit - math.floor(char_limit * overlap_rate)
    start = 0
    while start < len(content):
        if _limit_hit(len(out), max_chunk_limit, chunk_string_count):
            out.append(content[start:])
            break
        if start + char_limit >= len(content):
            out.append(content[start:])
            break
        out.append(content[start : start + char_limit])
        start += interval
    return out


_ALGORITHMS = {
    "delimiter": chunk_delimiter,
    "fixed_token_length": chunk_fixed_tokens,
    "fixed_char_length": chunk_fixed_chars,
}


def chunk_udf(algorithm: str, **params):
    """Arrow-batched UDF: content → array<string> of chunks. String work is
    C-level slicing inside each Arrow batch (no Spark row-at-a-time UDF)."""
    fn = _ALGORITHMS[algorithm]

    @F.pandas_udf(ArrayType(StringType()))
    def _chunk(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lambda t: fn(t, **params))

    return _chunk


_CHUNK_ALGO_EVENTS = {
    "fixed_tokens": "text_chunking_fixed_token_length_executions",
    "delimiter": "text_chunking_delimiter_executions",
    "fixed_chars": "text_chunking_fixed_char_length_executions",
}


def chunk_table(df, text_col: str, id_col: str, algorithm: str, **params):
    """corpus → exploded (docID, chunk_idx, chunk) — the Spark restatement of
    the ingest processor's per-field chunk loop (`explode(chunk_udf(...))`)."""
    from neural_search_spark import stats as _stats

    _stats.record_event("text_chunking_executions")
    if algorithm in _CHUNK_ALGO_EVENTS:
        _stats.record_event(_CHUNK_ALGO_EVENTS[algorithm])
    return df.select(
        F.col(id_col).alias("docID"),
        F.posexplode(chunk_udf(algorithm, **params)(F.col(text_col))).alias(
            "chunk_idx", "chunk"
        ),
    )
