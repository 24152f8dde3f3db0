"""Staging of cached artifacts in ``queries``: the per-uid cache root,
the trained-model JSON stages (`_staged_json`), the published index
dirs (`_staged_index`) and the ORC copy that goes through it. The
oracle gate proves end-to-end values; these pin the cache CONTRACTS:
bit-identical round-trips, one artifact per corpus snapshot, and a
publish that never leaves a half-built dir in use."""

from __future__ import annotations

import glob
import os

import pytest

from banking_data_etl_pipeline_spark import queries as Q
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR

# ------------------------------------------------------------ cache root


def test_cache_root_is_private_and_owned():
    """r13 ADVICE (medium): staged models must never live at
    predictable world-writable names. The cache root is per-uid,
    mode 0700, and owned by us — and a loose umask gets tightened."""
    import os
    import stat

    d = Q._cache_root()
    st = os.stat(d)
    assert st.st_uid == os.getuid()
    assert not (st.st_mode & 0o077), oct(st.st_mode)
    assert f"spark_graft_cache_{os.getuid()}" in d
    # idempotent: a second call returns the same validated dir
    assert Q._cache_root() == d


def test_cache_root_rejects_preplanted_symlink(tmp_path, monkeypatch):
    """A pre-planted symlink at the predictable cache name must be a
    hard error, not silently followed into an attacker-chosen dir."""
    target = tmp_path / "victim_dir"
    target.mkdir()
    os.chmod(target, 0o755)
    base = tmp_path / "base"
    base.mkdir()
    link = base / f"spark_graft_cache_{os.getuid()}"
    os.symlink(target, link)
    monkeypatch.setenv("XDG_CACHE_HOME", str(base))
    mode_before = os.lstat(target).st_mode
    with pytest.raises(RuntimeError, match="symlink"):
        Q._cache_root()
    # the link must NOT have been chmodded through (a changed mode on
    # the target would prove the old dereferencing behavior)
    assert os.lstat(target).st_mode == mode_before
    # and a clean base works and yields a real 0700 directory
    os.unlink(link)
    d = Q._cache_root()
    st = os.lstat(d)
    assert not os.path.islink(d)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o077) == 0


def test_cache_root_rejects_plain_file(tmp_path, monkeypatch):
    base = tmp_path / "base2"
    base.mkdir()
    p = base / f"spark_graft_cache_{os.getuid()}"
    monkeypatch.setenv("XDG_CACHE_HOME", str(base))
    p.write_text("squat")
    # makedirs(exist_ok=True) raises on a non-dir squatter already;
    # either way the call must not return the squatted path as usable
    with pytest.raises((RuntimeError, OSError)):
        Q._cache_root()


# ------------------------------------------------------ model JSON stages


def test_ann_models_json_roundtrip_is_bit_identical(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    # first call may train or hit an earlier stage; the second call is
    # ALWAYS the JSON path — training determinism + repr round-trip
    # means both must be exactly equal, float by float
    a = Q._ann_models(emb, SF_DIR)
    fp_files = glob.glob(
        os.path.join(Q._cache_root(), "spark_graft_annmodels_*.json")
    )
    assert fp_files, "staging file missing after _ann_models"
    b = Q._ann_models(emb, SF_DIR)
    assert a == b
    cents, books, res_books = b
    assert len(cents) == 16 and all(len(v) == 64 for _c, v in cents)
    assert len(books) == 4 and all(len(bk) == 16 for bk in books)
    assert len(res_books) == 4
    # the cached load returns proper python floats (not strings)
    assert all(isinstance(x, float) for _c, v in cents for x in v[:2])


def test_kmeans_model_staging_roundtrip_and_fingerprint(spark):
    """r12 verdict item 4: kmeans_purity reads staged centroids. The
    JSON round-trip must be bit-identical to a fresh train, the
    staging file must exist after the first call, and the fingerprint
    must key on the hyper-params too (k=8 and k=4 stage separately)."""
    import glob as g

    emb = tables.load(spark, SF_DIR, "embeddings")
    a = Q._kmeans_model(emb, SF_DIR, k=8)
    files = g.glob(
        os.path.join(Q._cache_root(), "spark_graft_kmeans_*.json")
    )
    assert files, "staging file missing after _kmeans_model"
    b = Q._kmeans_model(emb, SF_DIR, k=8)
    assert a == b
    assert len(b) == 8 and all(len(v) == 64 for _c, v in b)
    assert all(isinstance(x, float) for _c, v in b for x in v[:2])
    # fresh train (bypassing the stage) must agree float-for-float
    from banking_data_etl_pipeline_spark.operators import clustering

    fresh = clustering.train_centroids(emb, 8, 3)
    assert fresh == b
    # different hyper-params -> different staging file, different model
    c = Q._kmeans_model(emb, SF_DIR, k=4)
    assert len(c) == 4
    assert (
        len(g.glob(os.path.join(Q._cache_root(), "spark_graft_kmeans_*.json")))
        >= 2
    )


def test_unigram_model_staging_roundtrip(spark):
    """The staged vocab round-trips exact integer counts and agrees
    with a fresh train."""
    from banking_data_etl_pipeline_spark.operators import unigram as U

    docs = tables.load(spark, SF_DIR, "documents")
    a = Q._unigram_model(docs, SF_DIR)
    b = Q._unigram_model(docs, SF_DIR)
    assert a == b and a
    fresh = U.train_unigram(docs, rounds=2)
    assert fresh == a
    assert all(isinstance(c, int) for c in a.values())


# ------------------------------------------------------- index publishes


@pytest.fixture
def sf_copy(tmp_path, monkeypatch):
    """A private cache root and a one-file corpus to key on."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "embeddings.parquet").write_bytes(b"corpus")
    return str(sf)


def _publish(d: str, body: str) -> None:
    """A plain-file stand-in for an index build: payload + marker."""
    os.makedirs(os.path.join(d, "meta"))
    with open(os.path.join(d, "meta", "_SUCCESS"), "w"):
        pass
    with open(os.path.join(d, "payload"), "w") as f:
        f.write(body)


def _payload(path: str) -> str:
    with open(os.path.join(path, "payload")) as f:
        return f.read()


def _leftovers() -> list[str]:
    root = Q._cache_root()
    return glob.glob(os.path.join(root, "*_build_*")) + glob.glob(
        os.path.join(root, "*_grave_*")
    )


def test_staged_index_evicts_half_published_dir(sf_copy):
    fp = tables.snapshot_key(sf_copy, ("embeddings.parquet",))
    stale = os.path.join(Q._cache_root(), f"spark_graft_t_{fp}")
    os.makedirs(os.path.join(stale, "meta"))  # no _SUCCESS: half-pruned
    with open(os.path.join(stale, "payload"), "w") as f:
        f.write("stale")
    path = Q._staged_index(sf_copy, "t", "meta", lambda d: _publish(d, "ours"))
    assert path == stale
    assert _payload(path) == "ours"
    assert not _leftovers()
    # published: the next call reuses it without building
    again = Q._staged_index(sf_copy, "t", "meta", lambda d: 1 / 0)
    assert again == path and _payload(again) == "ours"


def test_staged_index_concurrent_publish_wins(sf_copy):
    fp = tables.snapshot_key(sf_copy, ("embeddings.parquet",))
    final = os.path.join(Q._cache_root(), f"spark_graft_t_{fp}")

    def build(d):
        _publish(final, "theirs")  # another process lands first
        _publish(d, "ours")

    path = Q._staged_index(sf_copy, "t", "meta", build)
    assert path == final
    assert _payload(path) == "theirs"
    assert not _leftovers()


def test_staged_index_removes_a_failed_build(sf_copy):
    fp = tables.snapshot_key(sf_copy, ("embeddings.parquet",))
    final = os.path.join(Q._cache_root(), f"spark_graft_t_{fp}")

    def build(d):
        _publish(d, "half")
        raise ValueError("train_centroids: empty input")

    with pytest.raises(ValueError, match="empty input"):
        Q._staged_index(sf_copy, "t", "meta", build)
    assert not _leftovers()
    assert not os.path.exists(final)
    # nothing stale is left to trip over: the next call builds afresh
    path = Q._staged_index(sf_copy, "t", "meta", lambda d: _publish(d, "ours"))
    assert path == final and _payload(path) == "ours"


def test_snapshot_key_follows_content_and_params(sf_copy):
    key = tables.snapshot_key(sf_copy, ("embeddings.parquet",))
    assert len(key) == 16
    assert key == tables.snapshot_key(
        os.path.join(sf_copy, "."), ("embeddings.parquet",)
    )
    assert key != tables.snapshot_key(sf_copy, ("embeddings.parquet",), 8)
    with open(os.path.join(sf_copy, "embeddings.parquet"), "ab") as f:
        f.write(b"+regenerated")
    assert key != tables.snapshot_key(sf_copy, ("embeddings.parquet",))


def test_orc_roundtrip_stages_one_copy_across_processes(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    rows = []
    for pid in (11111, 22222):  # two processes, one corpus snapshot
        with monkeypatch.context() as m:
            m.setattr(os, "getpid", lambda pid=pid: pid)
            df = Q.orc_roundtrip(spark, SF_DIR)
        rows.append(df.collect())
    assert rows[0] == rows[1] and rows[0]
    assert len(glob.glob(os.path.join(Q._cache_root(), "spark_graft_orc_*"))) == 1
    assert not _leftovers()


def test_bucketed_join_stages_one_copy_across_processes(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    rows = []
    for pid in (11111, 22222):  # two processes, one corpus snapshot
        with monkeypatch.context() as m:
            m.setattr(os, "getpid", lambda pid=pid: pid)
            df = Q.bucketed_join(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the registered copy still joins without exchanging either side
        assert plan.count("Bucketed: true") == 2, plan
        assert "hashpartitioning(o_custkey" not in plan, plan
        assert "hashpartitioning(c_custkey" not in plan, plan
        rows.append(df.collect())
    assert rows[0] == rows[1] and rows[0]
    root = Q._cache_root()
    assert len(glob.glob(os.path.join(root, "spark_graft_buckets_*"))) == 1
    assert not _leftovers()
