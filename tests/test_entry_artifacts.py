"""Regression guards for the per-(session, corpus) artifact caches in
``__spark_entry__``."""

from __future__ import annotations

from test_plan_shape import SF_DIR  # the sf0.001 test corpus


def test_pq_code_artifacts_may_run_before_codebooks(spark, monkeypatch):
    """The PQ code table reads its codebooks through the shared builder,
    so asking for the codes first on a fresh (session, sf_dir) key builds
    the codebooks instead of raising KeyError; the codebook accessor then
    returns the same cached table."""
    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "_PQ_CODEBOOKS", {})
    monkeypatch.setattr(entry, "_PQ_CODES", {})
    key = (id(spark), SF_DIR)
    codes = entry._pq_code_artifacts(spark, SF_DIR)
    try:
        assert set(entry._PQ_CODEBOOKS) == {key}
        assert entry._pq_codebook_artifacts(spark, SF_DIR) is entry._PQ_CODEBOOKS[key]
        assert entry._pq_code_artifacts(spark, SF_DIR) is codes
        assert codes.count() == entry._embeddings(spark, SF_DIR).count()
    finally:
        codes.unpersist()
        for cents in entry._PQ_CODEBOOKS.values():
            cents.unpersist()
