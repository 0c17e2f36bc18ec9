"""Round-11 operator tests: the manifest-pointer switchover for the
LSM/companion family (VERDICT r10 directive 4 — directory rename is
non-atomic on object stores and a crash between q260's delta truncate
and base swap could serve an inconsistent index) and the q261 exact
substring-level dedup operator.
"""

from __future__ import annotations

import json
import os

import pytest

from tidb_gateway_spark.queries import REGISTRY
from tidb_gateway_spark.sources import derived


def test_write_manifest_atomic_replace(tmp_path):
    """The manifest flip is a single-file os.replace: the new state is
    fully visible, the temp file is gone, repeated flips monotone."""
    root = str(tmp_path / "comp")
    derived.write_manifest(root, {"seq": 1, "generation": "gen-000001"})
    assert derived.read_manifest(root) == {
        "seq": 1, "generation": "gen-000001"}
    assert not os.path.exists(
        os.path.join(root, derived.MANIFEST + ".tmp"))
    derived.write_manifest(root, {"seq": 2, "generation": "gen-000002"})
    assert derived.read_manifest(root)["seq"] == 2


def test_read_manifest_legacy_layout(tmp_path):
    """A companion without a manifest (legacy single-dir layout, or a
    plain file path) resolves to itself, never raises."""
    assert derived.read_manifest(str(tmp_path / "nope")) is None
    assert derived.current_generation(str(tmp_path)) == str(tmp_path)
    # a FILE on the path component (NotADirectoryError branch)
    f = tmp_path / "afile"
    f.write_text("x")
    assert derived.read_manifest(str(f)) is None


def test_publish_generation_crash_window(tmp_path):
    """The crash-window contract: a publish that dies AFTER writing
    (part of) the next generation but BEFORE the manifest flip leaves
    readers on the old complete generation; the next successful
    publish reuses the sequence slot and GC's the superseded one."""
    root = str(tmp_path / "comp")

    def build_v1(gen: str) -> None:
        os.makedirs(gen)
        with open(os.path.join(gen, "data.json"), "w") as f:
            json.dump({"v": 1}, f)

    g1 = derived.publish_generation(root, build_v1)
    assert derived.current_generation(root) == g1

    # crash mid-publish: the build writes partial content then dies
    def build_crash(gen: str) -> None:
        os.makedirs(gen)
        with open(os.path.join(gen, "data.json"), "w") as f:
            f.write('{"v": 2')  # truncated — half-written artifact
        raise RuntimeError("simulated crash before manifest flip")

    with pytest.raises(RuntimeError):
        derived.publish_generation(root, build_crash)
    # readers still resolve to the OLD complete generation
    assert derived.current_generation(root) == g1
    with open(os.path.join(g1, "data.json")) as f:
        assert json.load(f) == {"v": 1}

    # a later successful publish supersedes both: the crashed gen-2
    # leftovers are overwritten, gen-1 GC'd after the flip
    def build_v2(gen: str) -> None:
        os.makedirs(gen, exist_ok=True)
        with open(os.path.join(gen, "data.json"), "w") as f:
            json.dump({"v": 2}, f)

    g2 = derived.publish_generation(root, build_v2)
    assert derived.current_generation(root) == g2
    with open(os.path.join(g2, "data.json")) as f:
        assert json.load(f) == {"v": 2}
    assert not os.path.exists(g1)


def test_q260_crash_window_serves_old_consistent_index(spark, sf_dir):
    """Kill-between-fold-and-swap simulation (the r10 verdict's named
    deployment gap): plant a half-written NEXT base generation beside
    the finished companion WITHOUT flipping the manifest — the declared
    serve must ignore it entirely and return the same answer."""
    import shutil

    from tidb_gateway_spark.queries.streaming_retrieval import _q260_index

    want = [r["doc_id"] for r in REGISTRY[
        "q260_streaming_lsm_index_lifecycle"].spark(spark, sf_dir)
        .collect()]
    path = _q260_index(spark, sf_dir)
    st = derived.read_manifest(path)
    assert st is not None and st["base_gen"] >= 1
    garbage = os.path.join(
        path, "base", f"gen-{st['base_gen'] + 1:06d}")
    os.makedirs(os.path.join(garbage, "dict"), exist_ok=True)
    with open(os.path.join(garbage, "dict", "part-junk.parquet"),
              "wb") as f:
        f.write(b"\x00not parquet - crashed fold leftovers")
    try:
        assert garbage not in derived.lsm_live_roots(path)
        got = [r["doc_id"] for r in REGISTRY[
            "q260_streaming_lsm_index_lifecycle"].spark(spark, sf_dir)
            .collect()]
        assert got == want
    finally:
        shutil.rmtree(garbage, ignore_errors=True)


def test_q257_and_q259_serve_through_manifest(spark, sf_dir):
    """Both compaction companions are generation-managed: the serving
    dir is the manifest's current generation, and a stray directory at
    the root is unreachable."""
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _q257_index,
        _q259_compact,
    )

    gen, _M, _present, _q0 = _q257_index(spark, sf_dir)
    root = os.path.dirname(gen)
    assert derived.current_generation(root) == gen
    assert os.path.basename(gen) == derived.read_manifest(
        root)["generation"]

    gen259 = _q259_compact(spark, sf_dir)
    root259 = os.path.dirname(gen259)
    assert derived.current_generation(root259) == gen259
    assert os.path.exists(os.path.join(gen259, "meta.json"))


def test_q262_stream_maintained_lsh_equals_batch_bands(spark, sf_dir):
    """The stream-maintained band index must hold exactly the
    batch-computed band rows (signatures are pure per-document
    functions — bounded-replay convergence with no shared side state),
    and the epoch column must match the staging hash."""
    from pyspark.sql import functions as F2

    from tidb_gateway_spark.operators import dedup
    from tidb_gateway_spark.operators.sampling import hash_bps
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _Q262_SPLITS,
        _q262_index,
    )
    from tidb_gateway_spark.catalog import load_table

    path = _q262_index(spark, sf_dir)
    got = {
        (r["doc_id"], r["band"], r["bv"], r["ep"])
        for r in spark.read.parquet(os.path.join(path, "bands"))
        .collect()
    }
    d = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        dedup.doc_shingles(d, distinct=False))
    bl = dedup.lsh_bands(sigs).withColumn(
        "ep",
        (hash_bps(F2.col("doc_id"), "q262") % _Q262_SPLITS).cast("int"))
    want = {
        (r["doc_id"], r["band"], r["bv"], r["ep"]) for r in bl.collect()
    }
    assert got == want
    with open(os.path.join(path, "meta.json")) as f:
        assert json.load(f)["n_batches"] == _Q262_SPLITS


def test_q263_flag_join_shape(spark, sf_dir):
    """The dup-on-arrival audit must be the q72 band equi-join
    restricted by the integer epoch comparison: sort-merge/shuffled
    hash join on (band, bv) — no BatchEvalPython, no cartesian."""
    from tidb_gateway_spark.plans import inspect as _inspect

    df = REGISTRY["q263_incremental_neardup_on_arrival"].spark(
        spark, sf_dir)
    text = _inspect.explain_formatted(df)
    assert "CartesianProduct" not in text, text
    assert "BatchEvalPython" not in text and "PythonUDF" not in text, text
    # the band join keys must reach a real join operator
    tree_l = [ln for ln in text.splitlines() if "Join" in ln]
    assert tree_l, text


def test_q263_epoch_zero_can_still_flag_within_batch(spark, sf_dir):
    """First-occurrence-wins: within one epoch, the lower doc_id is
    canonical and later ids sharing a bucket ARE flagged — every
    epoch's flag count must equal the recomputed reference."""
    from tidb_gateway_spark.operators.sampling import hash_bps
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _Q262_SPLITS,
        _q262_index,
    )
    from pyspark.sql import functions as F2

    path = _q262_index(spark, sf_dir)
    bl = spark.read.parquet(os.path.join(path, "bands")).collect()
    from collections import defaultdict

    buckets = defaultdict(list)
    for r in bl:
        buckets[(r["band"], r["bv"])].append((r["ep"], r["doc_id"]))
    flagged = set()
    for members in buckets.values():
        first = min(members)
        for m in members:
            if m > first:
                flagged.add(m)
    want = defaultdict(int)
    for ep, _doc in flagged:
        want[ep] += 1
    got = {
        r["ep"]: r["n_flagged"]
        for r in REGISTRY["q263_incremental_neardup_on_arrival"]
        .spark(spark, sf_dir).collect()
    }
    assert {e: n for e, n in got.items() if n} == dict(want)


def test_q264_removed_equals_q261_span_totals(spark, sf_dir):
    """Cross-operator invariant: the tokens q264 REMOVES per source
    must equal q261's merged-span token totals (union of [p, p+K-1]
    == the maximal intervals) — audit and apply agree exactly."""
    audit = {
        r["source"]: (r["dup_tokens"], r["dup_bps"])
        for r in REGISTRY["q261_exact_substring_dedup"]
        .spark(spark, sf_dir).collect()
    }
    apply_ = {
        r["source"]: (r["tok_before"] - r["tok_after"], r["removed_bps"])
        for r in REGISTRY["q264_exact_substring_dedup_apply"]
        .spark(spark, sf_dir).collect()
    }
    assert audit == apply_


def test_q264_exchanges_carry_no_text(spark, sf_dir):
    """Both corpus-scale exchanges of the apply (gh digests; doc-keyed
    integer events) must never carry token text or the token array."""
    from tidb_gateway_spark.plans import inspect as _inspect

    df = REGISTRY["q264_exact_substring_dedup_apply"].spark(
        spark, sf_dir)
    text = _inspect.explain_formatted(df)
    for line in text.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line and "wlist#" not in line \
                and "w#" not in line, line
    assert "BatchEvalPython" not in text and "PythonUDF" not in text, text


def test_q265_gate_accounting_and_bound_vs_q263(spark, sf_dir):
    """Gate invariants: (a) arrivals = admitted + quarantined per
    epoch; (b) epoch 0 admits everything (empty index); (c) the gate's
    quarantine count is bounded above by q263's flag count per epoch —
    the gate compares only against ADMITTED history, while q263 flags
    against ALL earlier arrivals (a doc matching only a quarantined
    doc is admitted by the gate but flagged by the audit)."""
    gate = {
        r["ep"]: r
        for r in REGISTRY["q265_streaming_dedup_gate"]
        .spark(spark, sf_dir).collect()
    }
    audit = {
        r["ep"]: r["n_flagged"]
        for r in REGISTRY["q263_incremental_neardup_on_arrival"]
        .spark(spark, sf_dir).collect()
    }
    assert gate, gate
    for ep, r in gate.items():
        assert r["n_arrived"] == r["n_admitted"] + r["n_quarantined"], r
    assert gate[0]["n_quarantined"] == 0, gate[0]
    for ep, r in gate.items():
        # q263 additionally flags within-epoch duplicates, so its
        # count dominates even before the admitted-only restriction
        assert r["n_quarantined"] <= audit[ep], (ep, r, audit[ep])


def test_q266_quarantine_counts_match_gate(spark, sf_dir):
    """The precision audit's per-epoch quarantine counts must equal
    the gate's own report (both read the same persisted decision log),
    and verified <= quarantined."""
    gate = {
        r["ep"]: r["n_quarantined"]
        for r in REGISTRY["q265_streaming_dedup_gate"]
        .spark(spark, sf_dir).collect()
    }
    audit = {
        r["ep"]: (r["n_quarantined"], r["n_verified"])
        for r in REGISTRY["q266_gate_precision_audit"]
        .spark(spark, sf_dir).collect()
    }
    assert set(gate) == set(audit)
    for ep, (nq, nv) in audit.items():
        assert nq == gate[ep], (ep, nq, gate[ep])
        assert 0 <= nv <= nq, (ep, nv, nq)
