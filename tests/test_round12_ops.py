"""Round-12 operator tests: the gate-family LSM fold (q267 — VERDICT
r11 directive 2: q265's flat form accumulates one file per (band, bvp)
dir per batch forever; the fold composes the gate with the q259/q260
manifest machinery), the fused q264 apply (directive 3), and the
q261 hot-gram skew guard (directive 6).
"""

from __future__ import annotations

import glob
import json
import os

from tidb_gateway_spark.queries import REGISTRY
from tidb_gateway_spark.sources import derived


def _gate_paths(spark, sf_dir):
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _Q267_FOLD_EVERY,
        _q265_gate,
    )

    flat = _q265_gate(spark, sf_dir)
    lsm = _q265_gate(spark, sf_dir, fold_every=_Q267_FOLD_EVERY)
    return flat, lsm


def test_q267_decisions_identical_to_q265(spark, sf_dir):
    """The fold only reorganizes files, never rows: every per-epoch
    arrival/admit/quarantine count and the admitted-id checksum must
    equal the flat gate's bit-for-bit."""
    flat = [
        tuple(r)
        for r in REGISTRY["q265_streaming_dedup_gate"]
        .spark(spark, sf_dir).collect()
    ]
    lsm = [
        tuple(r)
        for r in REGISTRY["q267_streaming_gate_lsm_fold"]
        .spark(spark, sf_dir).collect()
    ]
    assert flat == lsm and flat


def test_q267_fold_ran_and_bounded_file_count(spark, sf_dir):
    """After the 4-epoch fixture with fold-every-3: exactly one fold
    ran, the manifest names {base_gen: 1, delta_epoch: 2}, the folded
    base holds AT MOST one parquet file per (band, bvp) leaf (bands x
    16 hex chars), and the live delta holds epoch 3 only.  The flat
    gate's admitted dir, by contrast, accumulates one file per leaf
    PER BATCH — the unbounded growth the fold removes."""
    from tidb_gateway_spark.operators.dedup import BANDS

    flat, lsm = _gate_paths(spark, sf_dir)
    meta = json.load(open(os.path.join(lsm, "meta.json")))
    assert meta["n_folds"] == 1, meta
    st = derived.read_manifest(lsm)
    assert st == {"base_gen": 1, "delta_epoch": 2}, st
    base_files = glob.glob(os.path.join(
        lsm, "base", "gen-000001", "*", "*", "*.parquet"))
    assert 0 < len(base_files) <= BANDS * 16, len(base_files)
    # superseded delta epoch GC'd after the flip
    assert not os.path.exists(os.path.join(lsm, "delta", "epoch-000001"))
    delta_files = glob.glob(os.path.join(
        lsm, "delta", "epoch-000002", "*", "*", "*.parquet"))
    assert 0 < len(delta_files) <= BANDS * 16, len(delta_files)
    # the flat layout pays per-batch segment accumulation: strictly
    # more files than the folded base for the same admitted rows
    flat_files = glob.glob(os.path.join(
        flat, "admitted_bands", "*", "*", "*.parquet"))
    assert len(flat_files) > len(base_files) + len(delta_files)


def test_q267_crash_window_unreachable(spark, sf_dir, tmp_path):
    """A half-written next generation beside an unflipped manifest is
    unreachable: live roots name only what the manifest points at."""
    import shutil

    _, lsm = _gate_paths(spark, sf_dir)
    crash = str(tmp_path / "gate_crash")
    shutil.copytree(lsm, crash)
    # simulate a fold that crashed after writing gen-2 but before the
    # manifest flip
    shutil.copytree(
        os.path.join(crash, "base", "gen-000001"),
        os.path.join(crash, "base", "gen-000002"))
    roots = derived.lsm_live_roots(crash)
    assert os.path.join(crash, "base", "gen-000001") in roots
    assert all("gen-000002" not in r for r in roots)


def _hot_fixture(spark, tmp_path):
    """200 docs of one token repeated 50x: every 8-gram is the same
    digest corpus-wide — the pathological key the guard exists for."""
    import pandas as pd

    tmp = str(tmp_path / "hotcorpus")
    pdf = pd.DataFrame({
        "doc_id": range(200),
        "source": ["s"] * 200,
        "text": ["tok " * 50] * 200,
    })
    (spark.createDataFrame(pdf).write.mode("overwrite")
     .parquet(os.path.join(tmp, "documents.parquet")))
    return tmp


def test_q261_hot_gram_guard_activates_and_output_unchanged(
        spark, sf_dir, tmp_path):
    """Directive 6: the sampled skew diagnostic must trip on a
    synthetic hot-gram corpus (and stay off on the benchmark fixture),
    and the guarded run-compressed detection must produce the exact
    flagged-position set of the plain window path on BOTH corpora."""
    from tidb_gateway_spark.queries.pipeline_audit import (
        _q261_dup_positions,
        _q261_hot_gram_detected,
        _q261_wl,
    )

    wl = _q261_wl(spark, sf_dir)
    assert _q261_hot_gram_detected(wl) is False
    plain = sorted(tuple(r) for r in
                   _q261_dup_positions(wl, hot_guard=False).collect())
    guarded = sorted(tuple(r) for r in
                     _q261_dup_positions(wl, hot_guard=True).collect())
    assert plain == guarded and plain

    hot = _hot_fixture(spark, tmp_path)
    wl2 = _q261_wl(spark, hot)
    # full-sample diagnostic with a test-scale threshold: 200 docs x
    # 43 grams of ONE digest >> 100
    assert _q261_hot_gram_detected(wl2, threshold=100, sample_mod=1)
    p2 = sorted(tuple(r) for r in
                _q261_dup_positions(wl2, hot_guard=False).collect())
    g2 = sorted(tuple(r) for r in
                _q261_dup_positions(wl2, hot_guard=True).collect())
    assert p2 == g2 and p2


def test_q261_guarded_exchange_carries_runs_not_positions(spark, sf_dir):
    """The guarded plan's gh-exchange must carry run rows (st, len),
    never per-position rows, and still no text."""
    from tidb_gateway_spark.plans import inspect as _inspect
    from tidb_gateway_spark.queries.pipeline_audit import (
        _q261_dup_positions,
        _q261_wl,
    )

    df = _q261_dup_positions(_q261_wl(spark, sf_dir), hot_guard=True)
    text = _inspect.explain_formatted(df)
    assert "sequence(st" in text or "sequence(run.st" in text \
        or "sequence" in text, text
    for line in text.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line and "wlist#" not in line, line


def test_q268_hits_subset_of_q261_dups_and_epoch0_clean(spark, sf_dir):
    """Cross-family invariant: every cross-epoch substring hit (gram
    start matching a strictly earlier epoch) is by definition a
    globally duplicated gram start, so q268's hit set must be a strict
    subset of q261's detection-chain output; and the first-arriving
    epoch can never hit an empty index."""
    from pyspark.sql import functions as F

    from tidb_gateway_spark.queries.pipeline_audit import (
        _q261_dup_positions,
        _q261_wl,
    )
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _q268_index,
    )

    path = _q268_index(spark, sf_dir)
    hits = {
        (r["doc_id"], r["pos"], r["ep"])
        for r in spark.read.schema("doc_id long, pos int, ep int")
        .parquet(os.path.join(path, "hits")).collect()
    }
    assert hits, "fixture has cross-epoch duplicated substrings"
    assert all(ep > 0 for _, _, ep in hits)
    dup = {
        (r["doc_id"], r["pos"])
        for r in _q261_dup_positions(
            _q261_wl(spark, sf_dir), hot_guard=False).collect()
    }
    assert {(d, p) for d, p, _ in hits} <= dup
    meta = json.load(open(os.path.join(path, "meta.json")))
    assert meta["epochs_seen"] == sorted(meta["epochs_seen"])
    # declared report consistent with persisted stats
    rep = {r["ep"]: r for r in
           REGISTRY["q268_streaming_substring_dup_on_arrival"]
           .spark(spark, sf_dir).collect()}
    assert rep[0]["n_hits"] == 0
    for i, ep in enumerate(meta["epochs_seen"]):
        assert rep[ep]["n_grams"] == meta["n_grams"][i]
        assert rep[ep]["n_hits"] == meta["n_hits"][i]


def test_q268_exchanges_carry_digests_only(spark, sf_dir):
    """The declared q268 report's hash exchanges must carry digests
    and ints, never text or token arrays (the index/hits reads plus
    the per-epoch totals aggregate)."""
    from tidb_gateway_spark.plans import inspect as _inspect

    df = REGISTRY["q268_streaming_substring_dup_on_arrival"].spark(
        spark, sf_dir)
    text = _inspect.explain_formatted(df)
    for line in text.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line and "wlist#" not in line, line
    assert "BatchEvalPython" not in text and "PythonUDF" not in text


# ---------------------------------------------------------------- q269
def test_q269_pq_invariants(spark, sf_dir):
    """PQ-ADC recall eval: recall@10 ⊇ recall@1 (the @1 winner is rank
    1 of the same shortlist), counts bounded by the probe set, and the
    ADC sum is strictly positive (quantized vectors are distinct on
    the fixture, so no probe's shortlist winner has distance 0)."""
    row = REGISTRY["q269_pq_adc_recall"].spark(spark, sf_dir).collect()[0]
    assert row["n_probes"] == 10
    assert 0 <= row["hits"] <= row["hits_at10"] <= row["n_probes"]
    assert row["recall_bps"] == row["hits"] * 1000
    assert row["recall10_bps"] == row["hits_at10"] * 1000
    assert row["sum_adc_d2"] > 0


def test_q269_partials_bounded_per_batch(spark, sf_dir):
    """The kernel's map-side reduction: each Arrow batch emits at most
    1 exact + 10 ADC rows per probe, so the single exchange carries
    O(batches × probes) rows — never corpus-sized.  Verified by
    running the partial stage directly over one batch."""
    import pandas as pd

    from tidb_gateway_spark.catalog import load_table
    from tidb_gateway_spark.operators.similarity import pq_adc_eval
    from tidb_gateway_spark.queries.ann_compression import (
        _Q269_K,
        _Q269_PROBES,
    )

    e = load_table(spark, sf_dir, "embeddings")
    rows = (e.filter((e.vec_id < _Q269_K)
                     | ((e.vec_id >= _Q269_PROBES[0])
                        & (e.vec_id < _Q269_PROBES[1])))
            .select("vec_id", "embedding").collect())
    by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in rows}
    codebook = [by_id[k] for k in range(_Q269_K)]
    probes = [(q, by_id[q])
              for q in range(_Q269_PROBES[0], _Q269_PROBES[1])]
    out = pq_adc_eval(e.coalesce(1), probes, codebook)
    # with ONE input partition the partial stage yields ≤ 11 rows per
    # probe total; the joined per-probe result must be exactly 10 rows
    pdf = out.toPandas()
    assert len(pdf) == 10
    assert set(pdf.columns) == {
        "qid", "exact_nn", "pq_nn", "adc_d2", "hit10"}
    assert (pdf["adc_d2"] >= 0).all()


# ---------------------------------------------------------------- q270
def test_q270_removes_contaminated_doc(spark, tmp_path):
    """Synthetic contamination: a corpus doc embedding a benchmark
    doc's 13-token run is removed; a clean doc survives.  Pins the
    GPT-3 any-13-gram rule end-to-end (flag join + token accounting),
    which the driver fixture exercises only sparsely (1 removal at
    sf0.01 — real decontamination is a tail event)."""
    bench_text = " ".join(f"b{i}" for i in range(20))
    dirty = "x y z " + " ".join(f"b{i}" for i in range(13)) + " tail"
    clean = " ".join(f"c{i}" for i in range(30))
    rows = [(i, bench_text, "en", "bench", 0) for i in range(10)]
    rows += [(10, dirty, "en", "src", 0), (11, clean, "en", "src", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in REGISTRY[
        "q270_decontamination_apply"].spark(
        spark, str(tmp_path)).collect()}
    src = out["src"]
    assert src["n_docs"] == 2
    assert src["n_removed"] == 1
    assert src["tok_before"] == 17 + 30   # dirty(17 tokens) + clean(30)
    assert src["tok_after"] == 30          # dirty removed whole-doc
    assert src["removed_bps"] == (17 * 10000) // 47


def test_q269_partials_persisted_single_kernel_pass(spark, sf_dir):
    """The per-probe partials frame feeds three consumers (exact
    argmin, ADC top-10, recall@10 membership); without the persist the
    corpus Arrow kernel would re-run per consumer.  InMemoryTableScan
    in the executed plan pins the single-pass shape."""
    df = REGISTRY["q269_pq_adc_recall"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3
