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


def test_index_dir_tag_follows_the_build_sources(tmp_path):
    """The /tmp index artifacts are keyed by the bytes of the build-path
    sources: a copy of the package's sources gives the package's tag, and
    a change to any one of them gives a different directory tag."""
    import os
    import shutil

    import __spark_entry__ as entry
    import neural_search_spark

    pkg = os.path.dirname(neural_search_spark.__file__)
    for rel in entry._BUILD_SOURCES:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(os.path.join(pkg, rel), tmp_path / rel)
    base = entry._build_tag(SF_DIR, str(tmp_path))
    assert base == entry._build_tag(SF_DIR)
    assert base != entry._build_tag(SF_DIR + "/other", str(tmp_path))
    for rel in entry._BUILD_SOURCES:
        src = (tmp_path / rel).read_bytes()
        (tmp_path / rel).write_bytes(src + b"\n# changed\n")
        assert entry._build_tag(SF_DIR, str(tmp_path)) != base, rel
        (tmp_path / rel).write_bytes(src)
    assert entry._build_tag(SF_DIR, str(tmp_path)) == base
