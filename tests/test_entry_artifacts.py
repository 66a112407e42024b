"""Regression guards for the per-(session, corpus) artifact registry in
``__spark_entry__``."""

from __future__ import annotations

import ast
import glob
import os
import shutil

import pytest

import __spark_entry__ as entry
from test_plan_shape import SF_DIR  # the sf0.001 test corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the builders that warm() fills, one registry entry per (builder, args)
WARMED = {
    ("_engine",),
    ("_index",),
    ("_pos_index", "content"),
    ("_pos_index", "repo"),
    ("_ivf_artifacts",),
    ("_doc_embeddings",),
    ("_doc_ivf_artifacts",),
    ("_sparse_postings", None),
    ("_pq_codebooks",),
    ("_pq_code_artifacts",),
    ("_updated_index",),
}


@pytest.fixture(scope="module")
def corpus_copy(tmp_path_factory):
    """A private copy of the sf0.001 corpus: its cached plans read other
    files than the shared test corpus, so releasing them cannot drop a
    cache another test's artifact holds, and its /tmp index dirs carry
    their own tag and are removed afterwards."""
    d = tmp_path_factory.mktemp("sf0.001_copy")
    for name in ("documents.parquet", "embeddings.parquet"):
        shutil.copyfile(os.path.join(SF_DIR, name), d / name)
    yield str(d)
    for built in glob.glob(f"/tmp/nss_*{entry._build_tag(str(d))}*"):
        shutil.rmtree(built)


def _release(obj) -> None:
    """Unpersist every table an artifact holds."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        obj.unpersist()
    elif isinstance(obj, (tuple, list)):
        for o in obj:
            _release(o)
    elif isinstance(obj, dict):
        for o in obj.values():
            _release(o)
    elif type(obj).__module__.startswith("neural_search_spark"):
        for o in vars(obj).values():
            _release(o)


def test_pq_code_artifacts_may_run_before_codebooks(spark, monkeypatch, corpus_copy):
    """The PQ code table reads its codebooks through the registry, so
    asking for the codes first on a fresh registry builds the codebooks
    (and the IVF lists the codes are stored with); the codebook builder
    then returns the same cached table."""
    monkeypatch.setattr(entry, "_ARTIFACTS", {})
    codes = entry._pq_code_artifacts(spark, corpus_copy)
    try:
        held = {k[0]: v for k, v in entry._ARTIFACTS.items()}
        assert set(held) == {"_pq_code_artifacts", "_pq_codebooks", "_ivf_artifacts"}
        assert entry._pq_codebooks(spark, corpus_copy) is held["_pq_codebooks"]
        assert entry._pq_code_artifacts(spark, corpus_copy) is codes
        assert len(entry._ARTIFACTS) == 3
        assert codes.count() == entry._embeddings(spark, corpus_copy).count()
    finally:
        _release(list(entry._ARTIFACTS.values()))


def test_warm_builds_each_artifact_once(spark, monkeypatch, corpus_copy):
    """warm() fills one registry entry per artifact and reports a build
    time per step; a second warm adds no entry, every warmed builder hands
    back the identical object, and defaults are part of the key."""
    monkeypatch.setattr(entry, "_ARTIFACTS", {})
    try:
        seconds = entry.warm(spark, corpus_copy)
        held = dict(entry._ARTIFACTS)
        assert {(name, *args) for name, sid, _d, *args in held} == WARMED
        assert {(sid, d) for _n, sid, d, *_a in held} == {(id(spark), corpus_copy)}
        assert list(seconds) == [
            "engine", "index", "pos_index:content", "pos_index:repo",
            "ivf_artifacts", "doc_embeddings", "doc_ivf_artifacts",
            "sparse_postings", "pq_codebooks", "pq_code_artifacts",
            "updated_index", "field_postings:content", "field_postings:repo",
        ]
        assert all(s >= 0 for s in seconds.values())

        assert entry.warm(spark, corpus_copy).keys() == seconds.keys()
        assert entry._ARTIFACTS.keys() == held.keys()
        for (name, _sid, d, *args), obj in held.items():
            assert entry._ARTIFACTS[(name, _sid, d, *args)] is obj
            assert getattr(entry, name)(spark, d, *args) is obj, name
        assert entry._pos_index(spark, corpus_copy) is entry._pos_index(
            spark, corpus_copy, field="content"
        )
        assert entry._ARTIFACTS.keys() == held.keys()
    finally:
        _release(list(entry._ARTIFACTS.values()))


def test_one_registry_owns_every_artifact():
    """Static: the memo key is spelled once, in the decorator; no other
    module-level dict cache exists; the bench scripts warm through
    ``warm`` and call no private entry builder."""
    with open(entry.__file__) as f:
        src = f.read()
    assert src.count("id(spark)") == 1
    empty_dicts = [
        ast.unparse(t)
        for node in ast.parse(src).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and isinstance(node.value, ast.Dict) and not node.value.keys
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
    ]
    assert empty_dicts == ["_ARTIFACTS"]

    private = {
        n for n, v in vars(entry).items()
        if n.startswith("_") and not n.startswith("__") and callable(v)
    }
    for rel in ("bench.py", "bench_extra.py", "tools/bench_scale.py"):
        with open(os.path.join(REPO, rel)) as f:
            tree = ast.parse(f.read())
        used = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
        assert "warm" in used, rel
        assert not used & private, rel


def test_index_dir_tag_follows_the_build_sources(tmp_path):
    """The /tmp index artifacts are keyed by the bytes of the build-path
    sources and by the corpus files: a copy of the package's sources gives
    the package's tag, a change to any one of them gives a different
    directory tag, and so does data rewritten in place (a new mtime)."""
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

    data = tmp_path / "data"
    data.mkdir()
    docs = data / "documents.parquet"
    shutil.copyfile(os.path.join(SF_DIR, "documents.parquet"), docs)
    before = entry._build_tag(str(data))
    assert entry._build_tag(str(data)) == before
    st = os.stat(docs)
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert entry._build_tag(str(data)) != before


def test_prune_tool_lists_and_deletes_only_stale_artifact_dirs(tmp_path, capsys):
    """``tools/prune_artifacts.py`` names the ``nss_*`` dirs whose tag is no
    current ``_build_tag`` of the given sf dirs, removes them only with
    ``--delete``, and never touches a current-tag dir or another name."""
    from tools.prune_artifacts import main, stale_dirs

    tag, old = entry._build_tag(SF_DIR), "0123456789"
    assert tag != old
    keep = [f"nss_index_v1_{tag}", f"nss_index_upd_v1_{tag}", f"nss_positions_{tag}",
            f"nss_positions_{tag}_repo", "nss_notes", f"other_{old}"]
    stale = [f"nss_index_v1_{old}", f"nss_index_upd_v1_{old}", f"nss_positions_{old}",
             f"nss_positions_{old}_repo"]
    for name in keep + stale:
        (tmp_path / name).mkdir()
    want = sorted(str(tmp_path / n) for n in stale)
    assert stale_dirs(str(tmp_path), [SF_DIR]) == want
    assert main(["--root", str(tmp_path), SF_DIR]) == 0
    assert sorted(os.listdir(tmp_path)) == sorted(keep + stale)  # listing deletes nothing
    printed = capsys.readouterr().out
    assert all(f"stale {p}" in printed for p in want)
    assert main(["--root", str(tmp_path), "--delete", SF_DIR]) == 0
    assert sorted(os.listdir(tmp_path)) == sorted(keep)
