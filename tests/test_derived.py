"""sources/derived.py — the shared companion contract (freshness,
atomicity) that every materialized artifact relies on."""

from __future__ import annotations

import os
import time

import pytest

from tidb_gateway_spark.sources import derived


def _touch(p, mtime=None):
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write("x")
    if mtime is not None:
        os.utime(p, (mtime, mtime))


def test_is_fresh_marker_vs_source_mtime(tmp_path):
    src = str(tmp_path / "src.parquet")
    art = str(tmp_path / "artifact")
    now = time.time()
    _touch(src, now - 100)
    assert not derived.is_fresh(art, src)          # no artifact yet
    _touch(os.path.join(art, "_SUCCESS"), now - 50)
    assert derived.is_fresh(art, src)              # marker newer
    _touch(src, now)                               # source rewritten
    assert not derived.is_fresh(art, src)          # artifact stale


def test_is_fresh_directory_source_uses_newest_file(tmp_path):
    src = str(tmp_path / "srcdir")
    art = str(tmp_path / "artifact")
    now = time.time()
    _touch(os.path.join(src, "a.parquet"), now - 100)
    _touch(os.path.join(art, "_SUCCESS"), now - 50)
    assert derived.is_fresh(art, src)
    # a NEW file appearing inside the source directory invalidates
    _touch(os.path.join(src, "b.parquet"), now)
    assert not derived.is_fresh(art, src)


def test_build_atomic_crash_leaves_no_fresh_half_artifact(tmp_path):
    """The q206 regression class: a multi-write build that dies after
    its first write must NOT leave an artifact that passes the
    freshness check (Spark writes _SUCCESS after the first job)."""
    src = str(tmp_path / "src.parquet")
    art = str(tmp_path / "artifact")
    _touch(src, time.time() - 100)

    def crashy(tmp):
        _touch(os.path.join(tmp, "_SUCCESS"))  # first write commits
        raise RuntimeError("killed between write jobs")

    with pytest.raises(RuntimeError):
        derived.build_atomic(art, crashy)
    assert not derived.is_fresh(art, src)
    assert not os.path.exists(art)

    # a successful retry replaces the leftover temp dir and lands
    def ok(tmp):
        _touch(os.path.join(tmp, "part-0"))
        _touch(os.path.join(tmp, "_SUCCESS"))

    derived.build_atomic(art, ok)
    assert derived.is_fresh(art, src)
    assert os.path.exists(os.path.join(art, "part-0"))


def test_build_atomic_replaces_stale_artifact(tmp_path):
    src = str(tmp_path / "src.parquet")
    art = str(tmp_path / "artifact")
    now = time.time()
    _touch(src, now)
    _touch(os.path.join(art, "old-file"))
    _touch(os.path.join(art, "_SUCCESS"), now - 100)  # stale
    assert not derived.is_fresh(art, src)

    def ok(tmp):
        _touch(os.path.join(tmp, "new-file"))
        _touch(os.path.join(tmp, "_SUCCESS"))

    derived.build_atomic(art, ok)
    assert derived.is_fresh(art, src)
    assert not os.path.exists(os.path.join(art, "old-file"))


def test_derived_root_env_is_per_kind(tmp_path, monkeypatch):
    """SPARK_GRAFT_DERIVED_DIR is a PARENT: kinds get separate subdirs
    (the r7 unification — rollup.py and the format exports used to
    disagree on this)."""
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path))
    a = derived.derived_root("csv")
    b = derived.derived_root("zorder")
    assert a != b
    assert a.startswith(str(tmp_path)) and b.startswith(str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_DERIVED_DIR")
    assert ".benchdata" in derived.derived_root("csv")


def test_q225_compaction_file_counts(spark, sf_dir):
    """The compaction companion's mechanics (not SQL-observable in the
    declared query): the fragmented generation has the configured
    small-file count, the compacted one the target count, and both
    carry identical row counts."""
    import glob
    import os

    from tidb_gateway_spark.queries import retrieval_curation as rc

    path = rc._q225_compacted(spark, sf_dir)
    n_small = len(glob.glob(os.path.join(path, "small", "*.parquet")))
    n_comp = len(glob.glob(os.path.join(path, "compacted", "*.parquet")))
    assert n_small == rc._Q225_SMALL_FILES, n_small
    assert n_comp == rc._Q225_TARGET_FILES, n_comp
    a = spark.read.parquet(os.path.join(path, "small")).count()
    b = spark.read.parquet(os.path.join(path, "compacted")).count()
    assert a == b


def test_memo_recomputes_only_when_source_changes(tmp_path):
    src = str(tmp_path / "src.parquet")
    now = time.time()
    _touch(src, now - 100)
    calls = []

    def compute():
        calls.append(None)
        return len(calls)

    assert derived.memo("t", src, compute) == 1
    assert derived.memo("t", src, compute) == 1    # hit: mtime unchanged
    os.utime(src, (now, now))                      # source rewritten
    assert derived.memo("t", src, compute) == 2
    assert derived.memo("t", src, compute) == 2
    # the recompute replaced the slot instead of adding a second one
    assert [k for k in derived._memo if k[1] == os.path.abspath(src)] == [
        ("t", os.path.abspath(src))]


def test_int8_index_rebuilds_only_when_source_is_newer(
        spark, sf_dir, tmp_path, monkeypatch):
    import shutil

    from tidb_gateway_spark.operators.similarity import int8_index

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "derived"))
    src = str(tmp_path / "embeddings.parquet")
    shutil.copyfile(os.path.join(sf_dir, "embeddings.parquet"), src)
    now = int(time.time())  # whole seconds: exact through utime/getmtime
    os.utime(src, (now - 200, now - 200))
    n = int8_index(spark, src).count()
    marker = next(
        os.path.join(r, f) for r, _, fs in os.walk(tmp_path / "derived")
        for f in fs if f == "_SUCCESS"
    )
    os.utime(marker, (now - 100, now - 100))
    assert int8_index(spark, src).count() == n
    assert os.path.getmtime(marker) == now - 100   # reused
    os.utime(src, (now, now))                      # source rewritten
    assert int8_index(spark, src).count() == n
    assert os.path.getmtime(marker) >= now         # rebuilt
    assert derived.is_fresh(os.path.dirname(marker), src)


def test_mtime_rule_lives_only_in_derived():
    """Every companion goes through derived.companion: no other module
    reads a source's mtime, keys or checks or builds an artifact itself,
    keeps a private index root, or holds a build lock of its own (the
    gateway's locks guard connection state, not companions)."""
    import pathlib

    home = pathlib.Path(derived.__file__)
    pkg = home.parents[1]
    # the env var name is split so a grep of the tree for it finds none
    banned = ("os.path.getmtime", "SPARK_GRAFT_" "INDEX_DIR",
              "derived.key(", "is_fresh(", "build_atomic(")
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in pkg.rglob("*.py") if p != home
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(b in line for b in banned)
        or ("Lock(" in line and p.parent.name != "gateway")
    ]
    assert offenders == []


_BUILDER = """
import os

from tidb_gateway_spark.sources import derived

VALUE = "{value}"


def make(src, log):
    \"\"\"{doc}\"\"\"
    def build(path):
        log.append(1)  # {comment}
        os.makedirs(path)
        with open(os.path.join(path, "data"), "w") as f:
            f.write(VALUE + "{body}")

    return derived.companion("fp_test", src, ("fp_test", src), build)
"""


def test_builder_edit_rebuilds_and_comment_edit_does_not(tmp_path,
                                                         monkeypatch):
    """The marker holds the builder's fingerprint: editing the builder's
    body or a module constant it reaches rebuilds the companion, while
    editing only a comment or a docstring reuses it."""
    import importlib
    import sys

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "derived"))
    monkeypatch.syspath_prepend(str(tmp_path))
    src = str(tmp_path / "src.parquet")
    _touch(src, time.time() - 100)
    mod_path = tmp_path / "fp_builder_mod.py"
    stamp = [int(time.time())]

    def load(**kw):
        fields = dict(value="1", doc="Doc.", comment="note", body="")
        fields.update(kw)
        mod_path.write_text(_BUILDER.format(**fields))
        stamp[0] += 10   # a new mtime each version, past any .pyc stamp
        os.utime(mod_path, (stamp[0], stamp[0]))
        importlib.invalidate_caches()
        if "fp_builder_mod" in sys.modules:
            return importlib.reload(sys.modules["fp_builder_mod"])
        return importlib.import_module("fp_builder_mod")

    log: list[int] = []

    def data(**kw):
        path = load(**kw).make(src, log)
        with open(os.path.join(path, "data")) as f:
            return f.read()

    try:
        assert data() == "1" and len(log) == 1
        assert data() == "1" and len(log) == 1          # fresh: reused
        assert data(doc="Other doc.", comment="other note") == "1"
        assert len(log) == 1                            # no code change
        assert data(body="-2") == "1-2" and len(log) == 2   # body edit
        assert data(value="3", body="-2") == "3-2"      # constant edit
        assert len(log) == 3
    finally:
        sys.modules.pop("fp_builder_mod", None)


def test_key_is_the_md5_prefix_of_the_joined_parts():
    """derived.key keeps every companion name the hand-spelled
    md5("a|b|…")[:16] gave, so artifacts built before it stay valid
    (q76's ann_index among them)."""
    src = "/fx/embeddings.parquet"
    assert derived.key(src, 8, 64) == "ce1e108310b9a6d2"            # ann_index
    assert derived.key("ivf", src, 8) == "54bc62ea8b853355"         # ivf_index
    assert derived.key("ivfadc", src, 8, 16, 8, 256) == "02a702bd397ffe79"
    assert derived.key("lshgate-lsm-v1", "/fx/documents.parquet",
                       6, 3, 4, 2) == "804ed381e913dec1"
    assert derived.key("/fx/events.parquet", "hourly-v1") == "d9c15a8167175531"
    assert derived.key("bucketed", "/fx/orders.parquet",
                       "/d/bucketed")[:8] == "be9df161"
