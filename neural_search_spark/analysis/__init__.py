from neural_search_spark.analysis.tokenizer import (  # noqa: F401
    TOKEN_PATTERN,
    SQL_TOKEN_PATTERN,
    tokenize_text,
    analyzed_tokens,
    term_freqs,
    term_freq_rows,
)
