"""Streaming-index family: indexes that Structured Streaming
micro-batches maintain as immutable per-batch segments, and the
queries that serve from them.  Every builder replays its fixture as
arrival units through one ``availableNow`` file stream
(:func:`~tidb_gateway_spark.streaming.jobs.replay_arrivals`) and
maintains its index in ``foreachBatch``; every oracle recomputes the
answer from raw data, so each query certifies its incremental
maintenance lossless end-to-end.

* q244: inverted text index.  Each batch appends postings and a delta
  dictionary (both prefix-partitioned); the serve merges the deltas on
  read and runs q220's 3-term conjunctive probe.
* q254: IVF ANN index.  Each batch assigns its vectors to cells of
  FROZEN seed centroids and appends them under the cell partitioning;
  the serve runs q94's probe.
* q257: centroid refresh of q254's index, one exact Lloyd step
  published as a new companion generation.
* q259: LSM compaction of q244's index (deltas folded into one base).
* q260: q244's append and q259's fold in ONE stream: every 4th batch
  folds the delta pile into the next base generation.
* q262: MinHash-LSH band index; q263 audits dup-on-arrival over it.
* q265: streaming dedup gate (each epoch is probed against previously
  ADMITTED docs); q266 audits the precision of its quarantines; q267
  keeps the gate's admitted index in the LSM store.
* q268: exact-substring gram-digest index with cross-epoch hits.

Shared helpers:

* ``streaming.jobs.replay_arrivals``: stage arrival units, drain one
  file stream through ``foreachBatch``;
* ``sources.derived``'s LSM generation store (``lsm_init``,
  ``lsm_delta_root``, ``lsm_live_roots``, ``lsm_fold``) and
  ``read_roots``: q260 and q267;
* ``operators.partitioning.build_shuffle_partitions``: build-scoped
  shuffle sizing for the per-batch-heavy q265/q267 gate and q268;
* ``retrieval_curation.conjunctive_serve``: q220's probe tail, served
  by q244, q259 and q260;
* ``_arrival_epoch`` / ``_DDB_ARRIVAL_EPOCH``: the q262-family arrival
  epoch in Spark and in DuckDB.

Scale notes (100 TB): each micro-batch's work is proportional to the
batch; the append path never re-reads the accumulated index.  Delta
segments grow one per batch, so merge-on-read is a |batches|-way sum
per term, bounded by the fold (q259/q260/q267).  Staging each arrival
unit as one file is simulation staging: a real stream's arrival units
are its source's.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.operators import dedup
from tidb_gateway_spark.operators.dedup import (
    DDB_BANDS,
    DDB_SHINGLES,
    DDB_SIGS,
    ddb_near_dup,
    ddb_sizes_inter,
)
from tidb_gateway_spark.operators.partitioning import (
    build_shuffle_partitions,
    ensure_min_partitions,
)
from tidb_gateway_spark.operators.sampling import ddb_hash_bps, hash_bps
from tidb_gateway_spark.operators.similarity import (
    DDB_IVF_CELLS,
    IVF_CELLS,
    IVF_NPROBE,
    ddb_ivf_assign,
    ddb_top_cells,
)
from tidb_gateway_spark.operators.text import (
    DDB_GRAMS,
    GRAM_K,
    ddb_words,
    gram_digests,
    word_rows,
    words,
)
from tidb_gateway_spark.queries.registry import REGISTRY, register
from tidb_gateway_spark.queries.retrieval_curation import conjunctive_serve
from tidb_gateway_spark.sources import derived
from tidb_gateway_spark.streaming.jobs import replay_arrivals

_Q244_SPLITS = 4  # micro-batch arrival units the staging step simulates


def _append_text_delta(batch: DataFrame, root: str) -> None:
    """Append ``batch``'s postings and its DELTA dictionary under
    ``root`` (both partitioned by first-char prefix)."""
    # two consumers: persist the tokenized frame so the batch source is
    # read once
    td = word_rows(ensure_min_partitions(batch), "doc_id").distinct()
    td = td.select(F.substring("w", 1, 1).alias("pfx"), "w", "doc_id")
    td = td.persist()
    try:
        (td.write.mode("append").partitionBy("pfx")
         .parquet(os.path.join(root, "postings")))
        # batch DELTA dictionary — merged on read at serve
        (td.groupBy("pfx", "w")
         .agg(F.count("*").alias("dfc"))
         .write.mode("append").partitionBy("pfx")
         .parquet(os.path.join(root, "dict")))
    finally:
        td.unpersist()


def _merged_dfc(dct: DataFrame) -> DataFrame:
    """Merge-on-read of delta dictionaries: (w, dfc) summed per term."""
    return dct.groupBy("w").agg(F.sum("dfc").cast("bigint").alias("dfc"))


def _q244_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) the STREAM-maintained inverted-index
    companion: replay the corpus as 4 arrivals whose foreachBatch
    appends batch postings + a batch delta dictionary.  Returns the
    companion root path."""
    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        n = replay_arrivals(
            spark, load_table(spark, sf_dir, "documents"), "doc_id", "q244",
            _Q244_SPLITS, tmp,
            lambda batch, batch_id: _append_text_delta(batch, tmp))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"n_batches": n}, f)

    return derived.companion("invidx_stream", src, ("invidx-stream", src),
                             build)


@register(
    "q244_streaming_index_maintenance",
    REGISTRY["q220_inverted_index_roundtrip"].oracle,
    doc="Streaming inverted-index maintenance: a Structured Streaming "
        "foreachBatch job consumes the corpus in 4 micro-batches and "
        "appends per-batch postings + DELTA dictionaries (both "
        "prefix-partitioned); the declared query serves q220's 3-term "
        "conjunctive probe from the stream-maintained index, with the "
        "delta dictionaries merged on read (sum per term — the LSM "
        "model; q225's compaction is the folding operator).  The "
        "oracle recomputes containment from raw text, proving "
        "incremental maintenance lossless: batch-split + streaming "
        "merge ≡ batch build.  Write path per batch ∝ batch size — "
        "nothing re-reads the accumulated index.",
    tags=("llm", "text", "retrieval", "streaming", "layout"),
)
def q244(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q244_index(spark, sf_dir)
    dct = spark.read.parquet(os.path.join(path, "dict"))
    post = spark.read.parquet(os.path.join(path, "postings"))
    return conjunctive_serve(_merged_dfc(dct), post)


# ---------------------------------------------------------------- Q254
_Q254_SPLITS = 4


def _q254_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) the STREAM-maintained IVF index: replay
    the embedding corpus as 4 arrivals whose foreachBatch assigns each
    arriving vector to its argmax-inner-product cell and APPENDS it
    under the cell partition — per-batch immutable segments accumulate
    inside each cell directory (the same LSM model as q244's postings;
    the serve path reads them merged).

    Centroids are FROZEN up front (the deterministic seed set q94
    uses) — the precondition for incremental assignment ≡ batch
    rebuild.  A production system trains centroids on a bootstrap
    sample before opening the stream for exactly this reason; centroid
    refresh is a full re-index (or a cell-split compaction), not a
    streaming operation.  Returns the companion root path.
    """
    from tidb_gateway_spark.operators.similarity import (
        ivf_centroids,
        with_ivf_cell_arrow,
    )

    src = os.path.abspath(os.path.join(sf_dir, "embeddings.parquet"))

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        cents = ivf_centroids(spark, src, IVF_CELLS)
        cell_dir = os.path.join(tmp, "cells")

        def assign(batch: DataFrame, batch_id: int) -> None:
            # cell assignment is one Arrow matmul per batch against
            # the frozen centroid matrix; the append is the only
            # index write — nothing re-reads accumulated segments
            assigned = with_ivf_cell_arrow(
                ensure_min_partitions(batch), cents)
            (assigned.write.mode("append").partitionBy("cell")
             .parquet(cell_dir))

        n = replay_arrivals(spark, spark.read.parquet(src), "vec_id", "q254",
                            _Q254_SPLITS, tmp, assign)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"n_batches": n, "n_cells": IVF_CELLS}, f)

    return derived.companion("ivf_stream", src,
                             ("ivf-stream", src, IVF_CELLS), build)


@register(
    "q254_streaming_ivf_maintenance",
    # recomputes assignment + probe from raw embeddings
    REGISTRY["q94_ivf_ann"].oracle,
    doc="Streaming IVF-index maintenance: a Structured Streaming "
        "foreachBatch job consumes embedding arrivals in 4 "
        "micro-batches, assigns each vector to its argmax-inner-"
        "product cell against FROZEN seed centroids (one Arrow matmul "
        "per batch), and appends immutable per-batch segments under "
        "the cell partitioning — the LSM model of q244 applied to the "
        "ANN family.  The declared query serves q94's probe (top-3 by "
        "inner product over the probe's 2 best cells, partition-"
        "pruned) from the stream-maintained index; the oracle "
        "recomputes assignment + probe from raw embeddings, proving "
        "incremental maintenance ≡ the batch ivf_index rebuild.  "
        "Write path per batch ∝ batch size; centroid refresh is a "
        "re-index, not a streaming op (documented tradeoff).",
    tags=("llm", "similarity", "ann", "streaming", "layout"),
)
def q254(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import (
        ivf_centroids,
        ivf_query,
    )

    path = _q254_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "cells"))
    cents = ivf_centroids(
        spark, os.path.join(sf_dir, "embeddings.parquet"), IVF_CELLS)
    return ivf_query(idx, cents, cents[0], k=3, nprobe=IVF_NPROBE,
                     exclude_id=0)


# ---------------------------------------------------------------- Q257
_Q257_SCALE = 10_000  # embedding quantization grid (FLOOR(x*1e4 + 0.5))

# DuckDB oracle: recompute the WHOLE chain from raw embeddings — seed
# assignment (float dots, the certified q94/q254 machinery), quantized
# per-cell integer sums, floor-divided integer refreshed centroids,
# integer-dot reassignment, probe over the refreshed cells.  Every
# quantity that crosses the engine boundary is an exactly-representable
# integer in a float64 (|dot| <= 64 * 1e4 * 1e4 = 6.4e9 << 2^53), so
# float addition is EXACT and order-independent — the cross-engine
# reproducibility trick q211/q95 use, applied to Lloyd's update.
_Q257_ORACLE = (
    f"WITH {DDB_IVF_CELLS}, "
    "dsum AS (SELECT cell, t.i AS i, "
    f"SUM(CAST(FLOOR(e[t.i] * {_Q257_SCALE} + 0.5) AS BIGINT)) AS s, "
    "COUNT(*) AS n FROM cells, range(1, 65) AS t(i) "
    "GROUP BY cell, t.i), "
    # the refreshed centroids, as (cid, ce) like the seed ones
    "m AS (SELECT cell AS cid, list(CAST(FLOOR(CAST(s AS DOUBLE) / n) "
    "AS DOUBLE) ORDER BY i) AS ce FROM dsum GROUP BY cell), "
    "vq AS (SELECT vec_id, e, list_transform(e, x -> "
    f"CAST(CAST(FLOOR(x * {_Q257_SCALE} + 0.5) AS BIGINT) AS DOUBLE)) AS q "
    "FROM v), "
    f"{ddb_ivf_assign('r', 'vq', 'm', vec='q')}, "
    "q0 AS (SELECT vec_id AS qid, e AS fe, list_transform(e, x -> "
    f"CAST(CAST(FLOOR(x * {_Q257_SCALE} + 0.5) AS BIGINT) AS DOUBLE)) AS qe "
    "FROM v WHERE vec_id = 0), "
    f"{ddb_top_cells('pc', 'q0', cents='m')} "
    "SELECT x.vec_id, "
    "FLOOR(list_dot_product(x.e, q0.fe) * 10000 + 0.5) / 10000 AS dp "
    "FROM r x CROSS JOIN q0 "
    "WHERE x.cell IN (SELECT cid FROM pc) AND x.vec_id <> 0 "
    "ORDER BY dp DESC, x.vec_id LIMIT 3"
)


def _quantize_rows(mat):
    """FLOOR(x * scale + 0.5) elementwise as float64 — exact integers
    below 2^53, so downstream float matmuls are order-independent."""
    import numpy as np

    return np.floor(mat.astype(np.float64) * _Q257_SCALE + 0.5)


def _q257_index(spark: SparkSession, sf_dir: str):
    """Centroid-refresh compaction of the q254 stream-maintained IVF
    index: one exact Lloyd step (quantized integer cell sums →
    floor-divided integer refreshed centroids → integer-dot argmax
    reassignment), rebuilt as a batch job and switched over via a new
    derived-companion generation — the 'centroid refresh is a
    re-index, not a streaming op' tradeoff q254 documents, implemented.

    Returns (path, M) where M is the n_cells × dim refreshed centroid
    matrix (integer-valued float64, metadata-sized).

    Exactness: every per-dim cell sum is an exact BIGINT (|q| <= 1e4
    · scale per component, 64 dims), the refreshed centroid is
    FLOOR(sum/count) (IEEE double division of exact integers — both
    engines produce the identical double), and reassignment dots are
    sums of exact integers < 2^53, so float addition cannot round and
    summation order is irrelevant — the argmax is bit-reproducible
    across Spark, numpy BLAS, and DuckDB.

    Scale (100 TB): the per-dim sums are posexplode + partial-combined
    groupBy(cell, pos) — the exchange carries n_cells × dim rows PER
    MAP PARTITION (8 × 64 here), never corpus-sized; reassignment is
    one Arrow matmul per batch against the metadata-sized refreshed
    centroid table; the rebuild write is the same partitioned-append
    shape as the original index build.
    """
    import numpy as np

    from tidb_gateway_spark.operators.similarity import (
        ivf_centroids,
        vector_batches,
    )

    stream_path = _q254_index(spark, sf_dir)

    def build(tmp: str) -> None:
        idx = spark.read.parquet(os.path.join(stream_path, "cells"))
        dim = 64
        # refreshed centroids: exact integer per-(cell, dim) sums.  The
        # posexplode stream is map-side combined to n_cells*dim rows
        # per partition before the (tiny) exchange.
        sums = (
            idx.select(
                "cell",
                F.posexplode(F.col("embedding")).alias("pos", "x"),
            )
            .select(
                "cell", "pos",
                F.floor(F.col("x").cast("double") * _Q257_SCALE + 0.5)
                .cast("long").alias("qi"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("qi").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        # NON-EMPTY cells only (r10 ADVICE): the oracle's m/pc CTEs
        # contain only cells with members, so a seed cell that captured
        # nothing must be EXCLUDED from reassignment and probe
        # selection — an all-zero placeholder row could win an argmax
        # when every real dot is negative and silently diverge from the
        # oracle.  `present` is sorted ascending so a first-maximal
        # argmax over its rows tie-breaks exactly like the oracle's
        # (s DESC, cell).
        present = sorted({r["cell"] for r in sums})
        cell_row = {c: i for i, c in enumerate(present)}
        M = np.zeros((len(present), dim), dtype=np.float64)
        for r in sums:
            M[cell_row[r["cell"]]][r["pos"]] = math.floor(r["s"] / r["n"])
        os.makedirs(tmp, exist_ok=True)
        narrow = idx.select("vec_id", "embedding")
        out_schema = T.StructType(
            list(narrow.schema.fields)
            + [T.StructField("cell", T.IntegerType(), False)]
        )
        Ct = M.T  # dim × |present|
        cells_arr = np.array(present, dtype="int32")
        scale = float(_Q257_SCALE)

        def reassign(pdf, M):
            Q = np.floor(M * scale + 0.5)
            pdf = pdf.copy()
            # exact integer dots in float64; argmax takes the
            # FIRST maximal row = smallest cell id among ties =
            # the oracle's (s DESC, cell)
            pdf["cell"] = cells_arr[(Q @ Ct).argmax(axis=1)]
            return pdf

        (vector_batches(ensure_min_partitions(narrow), "embedding",
                        reassign, out_schema)
         .write.mode("overwrite").partitionBy("cell")
         .parquet(os.path.join(tmp, "cells")))
        # the refreshed centroid matrix is integer-valued and
        # metadata-sized: persist it in meta.json so the serve
        # path never re-runs the Lloyd-step job
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"n_cells": IVF_CELLS, "scale": _Q257_SCALE,
                       "cells": [int(c) for c in present],
                       "centroids": M.astype(int).tolist()}, f)

    # object-store-safe switchover (r10 verdict directive 4): the
    # refreshed index is published as an immutable GENERATION under the
    # companion root and readers resolve through the atomically-flipped
    # manifest — never a directory rename, which S3-class stores make
    # copy+delete (non-atomic)
    root = derived.companion(
        "ivf_refresh", os.path.join(stream_path, derived.MARKER),
        ("ivf-refresh", stream_path, _Q257_SCALE), build,
        place=derived.publish_generation)
    gen = derived.current_generation(root)
    with open(os.path.join(gen, "meta.json")) as f:
        meta = json.load(f)
    M = np.array(meta["centroids"], dtype=np.float64)
    present = [int(c) for c in meta["cells"]]
    # serve needs the raw probe vector too
    q0 = ivf_centroids(
        spark, os.path.join(sf_dir, "embeddings.parquet"), 1)[0]
    return gen, M, present, q0


@register(
    "q257_ivf_centroid_refresh",
    _Q257_ORACLE,
    doc="IVF centroid-refresh compaction — the batch re-index q254 "
        "defers to (its documented 'refresh is a re-index' tradeoff): "
        "one EXACT Lloyd step over the stream-maintained index "
        "(quantized integer per-cell sums via a partial-combined "
        "posexplode groupBy whose exchange carries n_cells x dim rows "
        "per partition; refreshed centroid = FLOOR(sum/count) — exact "
        "integers, so the reassignment argmax is bit-reproducible "
        "across engines), rebuilt partitioned-by-cell and switched "
        "over atomically as a new companion generation.  The declared "
        "query serves the q94-style probe from the REFRESHED index "
        "(integer-dot cell selection, partition-pruned scan, exact "
        "float rerank); the oracle recomputes seed assignment + Lloyd "
        "step + reassignment + probe from raw embeddings, certifying "
        "the whole stream-maintain -> compact -> serve chain.",
    tags=("llm", "similarity", "ann", "streaming", "layout"),
)
def q257(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from tidb_gateway_spark.operators.similarity import (
        probe_dot,
        top_cells,
        topk,
    )

    path, M, present, q0 = _q257_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "cells"))
    # cell selection by exact integer dot (driver-side, |present| x dim)
    # over NON-EMPTY cells only — `present` is ascending, so index-order
    # tie-break = the oracle's (s DESC, cell)
    q0q = _quantize_rows(np.array([q0]))[0]
    probes = [present[j] for j in top_cells(M @ q0q, IVF_NPROBE)]
    # exact rerank against the RAW probe vector within pruned cells
    return topk(idx.filter(F.col("cell").isin(probes)), "vec_id",
                probe_dot("embedding", q0), 3, exclude_id=0)


# ---------------------------------------------------------------- Q259
def _q259_compact(spark: SparkSession, sf_dir: str) -> str:
    """LSM compaction of the q244 stream-maintained inverted index —
    the folding operator q244's merge-on-read defers to: the per-batch
    DELTA dictionaries are summed into ONE base dictionary segment
    (a (pfx, w)-keyed aggregate — dictionary-sized exchange, never
    corpus-sized), and the per-batch posting segments are rewritten
    into one compacted segment per prefix directory (the rewrite IS
    the compaction: ingest-class cost paid once, amortized over the
    batches it folds; serve-side read fan-in drops from |batches|
    segments per prefix to one).  Atomic switchover via a new
    companion generation keyed on the stream index's marker, exactly
    like q257's refresh of the IVF family.

    At 100 TB the postings rewrite partitions by (pfx, doc-block) and
    compacts per prefix independently; the declared shape — fold
    deltas, rewrite segments, serve from the folded base — is the
    standard LSM maintenance cycle (Lucene merges, RocksDB
    compaction) expressed as Spark jobs.
    """
    stream_path = _q244_index(spark, sf_dir)

    def _n_segments(root: str) -> int:
        return sum(
            1 for r, _, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")
        )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        dct = spark.read.parquet(os.path.join(stream_path, "dict"))
        (dct.groupBy("pfx", "w")
         .agg(F.sum("dfc").cast("bigint").alias("dfc"))
         .repartition("pfx")
         .write.mode("overwrite").partitionBy("pfx")
         .parquet(os.path.join(tmp, "dict")))
        post = spark.read.parquet(os.path.join(stream_path, "postings"))
        (post.repartition("pfx")
         .write.mode("overwrite").partitionBy("pfx")
         .parquet(os.path.join(tmp, "postings")))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({
                "segments_before": _n_segments(
                    os.path.join(stream_path, "postings")),
                "segments_after": _n_segments(
                    os.path.join(tmp, "postings")),
            }, f)

    # manifest-pointer switchover, not directory rename (see _q257_index)
    return derived.current_generation(derived.companion(
        "invidx_compact", os.path.join(stream_path, derived.MARKER),
        ("invidx-compact", stream_path), build,
        place=derived.publish_generation))


@register(
    "q259_index_delta_compaction",
    REGISTRY["q220_inverted_index_roundtrip"].oracle,
    doc="LSM compaction of the stream-maintained inverted index — the "
        "fold q244's merge-on-read defers to (its documented 'q225 is "
        "the folding operator' tradeoff, implemented for the index "
        "family like q257 implemented the IVF refresh): per-batch "
        "delta dictionaries summed into one base segment ((pfx, w) "
        "aggregate — dictionary-sized exchange), per-batch posting "
        "segments rewritten one-per-prefix (read fan-in |batches| → "
        "1), atomic companion switchover.  The declared query serves "
        "q220's 3-term conjunctive probe from the COMPACTED base with "
        "NO merge-on-read sum; the oracle recomputes containment from "
        "raw text, certifying stream-append → delta-fold → compacted "
        "serve lossless end-to-end.",
    tags=("llm", "text", "retrieval", "streaming", "layout"),
)
def q259(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q259_compact(spark, sf_dir)
    # base dictionary is folded — one row per term, so the top-3 probe
    # is a plain TakeOrdered, no merge-on-read aggregate
    dct = spark.read.parquet(os.path.join(path, "dict"))
    post = spark.read.parquet(os.path.join(path, "postings"))
    return conjunctive_serve(dct, post)


# ---------------------------------------------------------------- Q260
_Q260_SPLITS = 6       # arrival units staged for the simulation
_Q260_COMPACT_EVERY = 4  # fold the delta pile every N micro-batches


def _q260_index(spark: SparkSession, sf_dir: str) -> str:
    """The full LSM lifecycle as ONE continuously-running streaming
    job: q244's append path and q259's fold, scheduled INSIDE the
    stream — every micro-batch appends a posting+dictionary delta
    segment, and every ``_Q260_COMPACT_EVERY``-th batch the foreachBatch
    hook folds the accumulated deltas into the base (sum the
    dictionaries, rewrite the posting segments one-per-prefix) and
    starts a fresh delta pile.  With 6 arrivals and fold-every-4, the
    finished companion holds a folded BASE (batches 0–3) plus 2 live
    DELTA segments (batches 4–5), so the serve path must exercise both
    the base and the merge-on-read tail — the steady state of a real
    streaming index.

    Production note: the fold runs inside the same foreachBatch
    transaction slot as the append (Structured Streaming serializes
    batches), so no concurrent writer exists; fold-then-truncate is
    crash-atomic via the LSM store's manifest (``derived.lsm_fold``):
    the next base generation is written in full, then ONE atomic
    manifest replace flips {base_gen, delta_epoch} together — a crash
    at any point leaves readers on the old generation plus the whole
    delta pile (consistent), and superseded directories are GC'd only
    after the flip.  os.replace of the manifest FILE is the
    single-key-PUT shape an object-store deployment maps it to; no
    directory is ever renamed.

    Scale: append work ∝ batch; fold work ∝ base+deltas but amortized
    1/N per batch and dictionary exchanges stay vocabulary-sized —
    this is Lucene's merge policy / RocksDB leveled compaction
    expressed as Spark jobs on the same companion layout q220 serves.
    """
    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        os.makedirs(tmp, exist_ok=True)
        derived.lsm_init(tmp)
        stats = {"n_batches": 0, "n_folds": 0, "deltas_live": 0}

        def fold(roots: list[str], nxt: str) -> None:
            # dictionary summed, postings rewritten one segment
            # per prefix
            dicts = [os.path.join(r, "dict") for r in roots]
            posts = [os.path.join(r, "postings") for r in roots]
            (derived.read_roots(spark, dicts)
             .groupBy("pfx", "w")
             .agg(F.sum("dfc").cast("bigint").alias("dfc"))
             .repartition("pfx")
             .write.mode("overwrite").partitionBy("pfx")
             .parquet(os.path.join(nxt, "dict")))
            (derived.read_roots(spark, posts).repartition("pfx")
             .write.mode("overwrite").partitionBy("pfx")
             .parquet(os.path.join(nxt, "postings")))

        def merge(batch: DataFrame, batch_id: int) -> None:
            _append_text_delta(batch, derived.lsm_delta_root(tmp))
            stats["n_batches"] += 1
            stats["deltas_live"] += 1
            if stats["n_batches"] % _Q260_COMPACT_EVERY == 0:
                derived.lsm_fold(tmp, fold)
                stats["n_folds"] += 1
                stats["deltas_live"] = 0

        replay_arrivals(spark, d, "doc_id", "q260", _Q260_SPLITS, tmp,
                        merge)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(stats, f)

    return derived.companion(
        "invidx_lsm", src,
        ("invidx-lsm", src, _Q260_SPLITS, _Q260_COMPACT_EVERY), build)


@register(
    "q260_streaming_lsm_index_lifecycle",
    REGISTRY["q220_inverted_index_roundtrip"].oracle,
    doc="The complete streaming LSM index lifecycle in ONE job: every "
        "micro-batch appends posting+dictionary delta segments (q244's "
        "path) and every 4th batch the same foreachBatch hook folds "
        "the delta pile into the base (q259's fold — dictionary "
        "summed, postings rewritten one-per-prefix) and truncates the "
        "deltas.  The finished fixture holds a folded base (batches "
        "0–3) PLUS 2 live deltas (4–5), so the declared q220-style "
        "probe must merge base + delta dictionaries on read and union "
        "both posting generations — the steady state a continuously "
        "ingesting retrieval system actually serves from.  The oracle "
        "recomputes containment from raw text, certifying "
        "append → scheduled fold → mixed-generation serve lossless.",
    tags=("llm", "text", "retrieval", "streaming", "layout"),
)
def q260(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q260_index(spark, sf_dir)
    gens = derived.lsm_live_roots(path)
    dicts = [os.path.join(g, "dict") for g in gens
             if os.path.exists(os.path.join(g, "dict"))]
    posts = [os.path.join(g, "postings") for g in gens
             if os.path.exists(os.path.join(g, "postings"))]
    return conjunctive_serve(_merged_dfc(derived.read_roots(spark, dicts)),
                             derived.read_roots(spark, posts))


# ---------------------------------------------------------------- Q262
_Q262_SPLITS = 4


def _arrival_epoch() -> Column:
    """Arrival epoch of a document in the q262–q268 replays: the split
    ``replay_arrivals(..., "doc_id", "q262", _Q262_SPLITS, ...)``
    staged it in, as an int."""
    return (hash_bps(F.col("doc_id"), "q262") % _Q262_SPLITS).cast("int")


# DuckDB twin of _arrival_epoch (before the INT cast)
_DDB_ARRIVAL_EPOCH = f"{ddb_hash_bps('doc_id', 'q262')} % {_Q262_SPLITS}"

# shared oracle prefix: shingles → signatures → bands (q72's certified
# chain), arrival epochs e, and band rows carrying their epoch be
_DDB_EPOCH_BANDS = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    f"e AS (SELECT doc_id, CAST({_DDB_ARRIVAL_EPOCH} AS INT) AS ep "
    "FROM documents), "
    "be AS (SELECT b.doc_id, b.band, b.bv, e.ep FROM bands b "
    "JOIN e USING (doc_id)), "
)


def _q262_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) the STREAM-maintained MinHash-LSH band
    index — the third member of the streaming-index family (q244 =
    inverted text index, q254 = IVF ANN index, this = the near-dup
    candidate index): replay the corpus as 4 arrivals whose
    foreachBatch computes each arriving document's MinHash signature
    and appends its (band, bv, doc_id, ep) band rows under the band
    partitioning — immutable per-batch segments, the same LSM model as
    the other two.

    Signatures depend ONLY on the document's own text (min over its
    shingle hashes), so per-batch computation trivially equals the
    batch build — stronger than q254's frozen-centroid precondition:
    there is no shared side state at all.  ``ep`` is the arrival epoch
    recomputed from doc_id (the hash that also staged the splits), so
    the index carries arrival order in a form any engine can
    recompute.
    """
    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        os.makedirs(tmp, exist_ok=True)
        band_dir = os.path.join(tmp, "bands")

        def assign(batch: DataFrame, batch_id: int) -> None:
            # per-batch signature: one shingle pass + one
            # partial-combined min-aggregate over THIS batch only;
            # the append is the only index write
            sh = dedup.doc_shingles(
                ensure_min_partitions(batch), distinct=False)
            bl = dedup.lsh_bands(dedup.minhash_signatures(sh))
            (bl.withColumn("ep", _arrival_epoch())
             .write.mode("append").partitionBy("band")
             .parquet(band_dir))

        n = replay_arrivals(spark, d, "doc_id", "q262", _Q262_SPLITS,
                            tmp, assign)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"n_batches": n,
                       "bands": dedup.BANDS, "k": dedup.K}, f)

    return derived.companion(
        "lsh_stream", src,
        ("lshband-stream", src, dedup.K, dedup.BANDS, _Q262_SPLITS), build)


@register(
    "q262_streaming_lsh_band_index",
    REGISTRY["q72_minhash_lsh_candidates"].oracle,
    doc="Streaming MinHash-LSH band-index maintenance — the near-dup "
        "candidate index as the third streaming-index family member "
        "(q244 inverted text, q254 IVF ANN): foreachBatch computes "
        "arriving documents' MinHash signatures (min over shingle "
        "hashes — a pure per-document function, so per-batch "
        "computation ≡ batch build with NO shared side state, stronger "
        "than q254's frozen-centroid precondition) and appends "
        "immutable (band, bv, doc_id) segments under the band "
        "partitioning.  The declared query self-joins the stream-"
        "maintained index on (band, bv) and must return exactly q72's "
        "batch-computed candidate-pair set; the oracle recomputes "
        "signatures from raw text.  Write path per batch ∝ batch; the "
        "serve join is the same high-cardinality band equi-join the "
        "batch form uses (AQE splits a hot bucket).",
    tags=("llm", "dedup", "minhash", "streaming", "layout"),
)
def q262(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q262_index(spark, sf_dir)
    bl = spark.read.parquet(os.path.join(path, "bands"))
    return dedup.band_pairs(bl).orderBy("a", "b")


# ---------------------------------------------------------------- Q263
def _q263_oracle() -> str:
    """Recompute the dup-on-arrival audit from raw text: shingles →
    signatures → bands (q72's certified chain), arrival epoch from the
    same md5-bps hash the staging split uses, flag = shares a band
    bucket with a strictly earlier arrival ((ep, doc_id) lexicographic
    — first occurrence wins)."""
    return (
        _DDB_EPOCH_BANDS
        + "fl AS (SELECT DISTINCT y.doc_id FROM be x JOIN be y "
        "ON x.band = y.band AND x.bv = y.bv AND "
        "(x.ep < y.ep OR (x.ep = y.ep AND x.doc_id < y.doc_id))), "
        "n AS (SELECT ep, CAST(COUNT(*) AS BIGINT) AS n_docs "
        "FROM e GROUP BY ep), "
        "f AS (SELECT e.ep, CAST(COUNT(*) AS BIGINT) AS n_flagged "
        "FROM fl JOIN e USING (doc_id) GROUP BY e.ep) "
        "SELECT n.ep, n.n_docs, COALESCE(f.n_flagged, 0) AS n_flagged, "
        "CAST((COALESCE(f.n_flagged, 0) * 10000) // n.n_docs AS BIGINT) "
        "AS flagged_bps "
        "FROM n LEFT JOIN f USING (ep) ORDER BY n.ep"
    )


@register(
    "q263_incremental_neardup_on_arrival",
    _q263_oracle(),
    doc="Ingest-time incremental near-dup detection — the operation a "
        "continuously-ingesting curation pipeline actually runs "
        "against q262's stream-maintained LSH index: for each arrival "
        "epoch, how many documents share a band bucket with a "
        "STRICTLY EARLIER arrival ((epoch, doc_id) lexicographic — "
        "first occurrence wins), i.e. would be flagged as probable "
        "duplicates before entering the corpus.  The declared query "
        "self-joins the band index with the earlier-than predicate "
        "and reports per-epoch arrival counts, flagged counts, and "
        "integer-bps rates; the oracle recomputes the whole chain "
        "(signatures from raw text + the same md5-derived epoch).  "
        "The arrival epoch is carried IN the index rows (recomputed "
        "from doc_id), so the audit needs no side channel; at scale "
        "the flag join is the q72 band equi-join restricted by an "
        "integer comparison — no new exchange shape.",
    tags=("llm", "dedup", "minhash", "streaming", "governance"),
)
def q263(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q262_index(spark, sf_dir)
    bl = spark.read.parquet(os.path.join(path, "bands"))
    x, y = bl.alias("x"), bl.alias("y")
    flagged = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (
                (F.col("x.ep") < F.col("y.ep"))
                | ((F.col("x.ep") == F.col("y.ep"))
                   & (F.col("x.doc_id") < F.col("y.doc_id")))
            ),
        )
        .select(F.col("y.doc_id").alias("doc_id"),
                F.col("y.ep").alias("ep"))
        .distinct()
        .groupBy("ep")
        .agg(F.count("*").alias("n_flagged"))
    )
    d = load_table(spark, sf_dir, "documents")
    arrivals = (
        d.select(_arrival_epoch().alias("ep"))
        .groupBy("ep")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        arrivals.join(flagged, "ep", "left")
        .select(
            "ep",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("n_flagged", F.lit(0)).cast("bigint")
            .alias("n_flagged"),
        )
        .select(
            "ep", "n_docs", "n_flagged",
            F.expr("CAST((n_flagged * 10000) DIV n_docs AS BIGINT)")
            .alias("flagged_bps"),
        )
        .orderBy("ep")
    )


# ---------------------------------------------------------------- Q265
# admitted band rows; the explicit schema fixes bvp's type (partition
# type INFERENCE over bvp dirs crashes under ANSI when digit-only early
# state later meets a hex-letter value: 'a' -> BIGINT cast)
_ADM_SCHEMA = "doc_id long, bv string, ep int, band int, bvp string"


def _q265_gate(spark: SparkSession, sf_dir: str,
               fold_every: int | None = None) -> str:
    """Build (once per fixture) the STREAMING DEDUP GATE state — the
    APPLY member of the q262/q263 family and the operation a
    production ingest pipeline actually runs: each arriving batch is
    probed against the index of PREVIOUSLY ADMITTED documents; docs
    sharing a band bucket with an admitted doc are QUARANTINED, the
    rest are admitted and their band rows appended to the index.  The
    gate is sequential by construction (what epoch 2 admits depends on
    what epochs 0–1 admitted), which is exactly what makes it an
    ingest-time operator rather than a batch afterthought.

    Within-batch duplicates are deliberately NOT gated (batch-internal
    dedup is q60/q72's batch job); the gate compares only against
    ADMITTED history — a doc matching only a quarantined doc is
    admitted, which is why q265's quarantine count is a lower bound of
    q263's flag count (pinned by test).

    Arrival order: ``replay_arrivals`` delivers epochs 0,1,2,3 in
    order; each batch's epoch is recomputed from its rows and asserted
    monotonic (a reordering would silently change gate semantics).

    Scale notes (100 TB): the admitted index is partitioned by
    (band, bvp = LAST hex char of the band value — the first char of a
    min-of-hashes is heavily biased toward '0'), and the probe collects
    the batch's ≤ bands×16 distinct (bvp) values driver-side and
    filters the index read with them — partition pruning bounds the
    probe to matching buckets (plan-pruned here; at real scale the
    layout has more bvp digits and the probe reads a vanishing
    fraction of the index).  Everything exchanged is band rows
    (digests + ids), never text.

    ``fold_every`` (q267): when set, the admitted index lives in the
    LSM generation store — per-batch appends land in the live delta
    epoch, and every Nth batch ``derived.lsm_fold`` rewrites base ∪
    delta as the next base generation (ONE file per (band, bvp) leaf)
    before a single manifest replace flips both pointers.  The flat
    form (fold_every=None, q265) appends one file per (band, bvp) dir
    per batch FOREVER — the listing/footer cost a continuously-running
    gate accumulates linearly, which is exactly what the fold
    amortizes away (q259/q260's model applied to band segments).
    """
    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        os.makedirs(tmp, exist_ok=True)
        adm_dir = os.path.join(tmp, "admitted_bands")
        quar_dir = os.path.join(tmp, "quarantine")
        stats = {"epochs_seen": [], "admitted": [], "quarantined": [],
                 "n_folds": 0}
        if fold_every is not None:
            derived.lsm_init(tmp)

        def fold(roots: list[str], nxt: str) -> None:
            # one exchange on the partition key -> ONE file per
            # (band, bvp) leaf of the next base generation
            (derived.read_roots(spark, roots, _ADM_SCHEMA)
             .repartition("band", "bvp")
             .write.mode("overwrite")
             .partitionBy("band", "bvp").parquet(nxt))

        def gate(batch: DataFrame, batch_id: int) -> None:
            sh = dedup.doc_shingles(
                ensure_min_partitions(batch), distinct=False)
            bl = (
                dedup.lsh_bands(dedup.minhash_signatures(sh))
                .withColumn("ep", _arrival_epoch())
                .withColumn("bvp", F.substring("bv", -1, 1))
                .persist()
            )
            try:
                eps = [r["ep"] for r in
                       bl.select("ep").distinct().collect()]
                assert len(eps) == 1, f"mixed-epoch batch: {eps}"
                ep = eps[0]
                assert all(ep > e for e in stats["epochs_seen"]), (
                    stats["epochs_seen"], ep)
                stats["epochs_seen"].append(ep)

                # O(1) existence check (r11 walked the whole
                # admitted dir per batch — O(index files) driver
                # work that defeats the fold's point): the gate
                # admitted rows before iff any prior batch
                # reported admissions
                has_index = sum(stats["admitted"]) > 0
                if has_index:
                    bvps = [r["bvp"] for r in
                            bl.select("bvp").distinct().collect()]
                    roots = ([adm_dir] if fold_every is None
                             else derived.lsm_live_roots(tmp))
                    adm = (derived.read_roots(spark, roots, _ADM_SCHEMA)
                           .filter(F.col("bvp").isin(bvps))
                           .select(F.col("band").alias("aband"),
                                   F.col("bv").alias("abv")))
                    flagged = (
                        bl.join(
                            adm,
                            (F.col("band") == F.col("aband"))
                            & (F.col("bv") == F.col("abv")),
                            "leftsemi",
                        )
                        .select("doc_id").distinct()
                    )
                else:
                    flagged = bl.select("doc_id").distinct().limit(0)
                # WAL ordering, and not just for crash-safety: the
                # quarantine DECISION is materialized to files
                # FIRST, while the probe's plan still reads the
                # pre-batch index listing; the admitted append
                # then anti-joins against the FILE-BACKED decision.
                # (The lazy form — persist flagged, append
                # admitted, then re-use flagged — re-evaluated the
                # probe after the append, at which point every
                # admitted doc matched its own just-written band
                # rows and the whole batch read as flagged.)
                (flagged.withColumn("ep", F.lit(ep))
                 .write.mode("append").parquet(quar_dir))
                flagged_file = (
                    spark.read
                    .schema("doc_id long, ep int")
                    .parquet(quar_dir)
                    .filter(F.col("ep") == ep)
                    .select("doc_id")
                )
                admitted_rows = bl.join(flagged_file, "doc_id",
                                        "left_anti")
                # one exchange on the partition key -> ONE file per
                # (band, bvp) dir per batch; the unpartitioned
                # write emitted tasks x dirs tiny files, which the
                # serve path pays in listing/footer reads
                dest = (adm_dir if fold_every is None
                        else derived.lsm_delta_root(tmp))
                (admitted_rows.repartition("band", "bvp")
                 .write.mode("append")
                 .partitionBy("band", "bvp").parquet(dest))
                nq = flagged_file.count()
                stats["quarantined"].append(nq)
                stats["admitted"].append(
                    bl.select("doc_id").distinct().count() - nq)
                if (fold_every is not None
                        and len(stats["epochs_seen"]) % fold_every
                        == 0):
                    derived.lsm_fold(tmp, fold)
                    stats["n_folds"] += 1
            finally:
                bl.unpersist()

        with build_shuffle_partitions(spark):
            replay_arrivals(spark, d, "doc_id", "q262", _Q262_SPLITS,
                            tmp, gate)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(stats, f)

    if fold_every is None:
        return derived.companion(
            "lsh_gate", src,
            ("lshgate-stream", src, dedup.K, dedup.BANDS, _Q262_SPLITS),
            build)
    return derived.companion(
        "lsh_gate_lsm", src,
        ("lshgate-lsm", src, dedup.K, dedup.BANDS, _Q262_SPLITS, fold_every),
        build)


def _ddb_admission_chain() -> str:
    """Unrolled sequential admission (after ``_DDB_EPOCH_BANDS``): a0 =
    epoch 0; f<k> = epoch-k docs sharing a band bucket with the UNION
    of a0..a<k-1>; a<k> = the rest of epoch k."""
    chain = ["a0 AS (SELECT doc_id FROM e WHERE ep = 0)"]
    adm_terms = ["SELECT doc_id FROM a0"]
    for k in range(1, _Q262_SPLITS):
        prev = " UNION ALL ".join(adm_terms)
        chain.append(
            f"f{k} AS (SELECT DISTINCT y.doc_id FROM be x JOIN be y "
            f"ON x.band = y.band AND x.bv = y.bv "
            f"AND x.doc_id IN ({prev}) AND y.ep = {k})")
        chain.append(
            f"a{k} AS (SELECT doc_id FROM e WHERE ep = {k} "
            f"AND doc_id NOT IN (SELECT doc_id FROM f{k}))")
        adm_terms.append(f"SELECT doc_id FROM a{k}")
    return ", ".join(chain) + ", "


def _q265_oracle() -> str:
    """Unrolled sequential-admission recompute from raw text: epoch k's
    quarantine = docs sharing a band bucket with the UNION of epochs
    < k's admitted sets (first epoch admits everything)."""
    adm_union = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS ep FROM a{k}"
        for k in range(_Q262_SPLITS))
    return (
        _DDB_EPOCH_BANDS + _ddb_admission_chain()
        + f"adm AS ({adm_union}) "
        "SELECT e.ep, CAST(COUNT(*) AS BIGINT) AS n_arrived, "
        "CAST(SUM(CASE WHEN adm.doc_id IS NULL THEN 0 ELSE 1 END) "
        "AS BIGINT) AS n_admitted, "
        "CAST(SUM(CASE WHEN adm.doc_id IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_quarantined, "
        "CAST(SUM(CASE WHEN adm.doc_id IS NULL THEN 0 ELSE e.doc_id "
        "END) AS BIGINT) AS admitted_idsum "
        "FROM e LEFT JOIN adm ON adm.doc_id = e.doc_id "
        "GROUP BY e.ep ORDER BY e.ep"
    )


def _gate_report(spark: SparkSession, sf_dir: str, path: str,
                 admitted: DataFrame) -> DataFrame:
    """Per-epoch arrivals, admissions, quarantines and admitted-id
    checksum of the gate built at ``path``, whose admitted band rows
    are ``admitted`` (q265 flat, q267 through the LSM store)."""
    adm = (
        admitted.select("doc_id", "ep").distinct()
        .groupBy("ep")
        .agg(
            F.count("*").alias("n_admitted"),
            F.sum("doc_id").alias("admitted_idsum"),
        )
    )
    quar = (
        spark.read.schema("doc_id long, ep int")
        .parquet(os.path.join(path, "quarantine"))
        .groupBy("ep")
        .agg(F.count("*").alias("n_quarantined"))
    )
    d = load_table(spark, sf_dir, "documents")
    arrivals = (
        d.select(_arrival_epoch().alias("ep"))
        .groupBy("ep")
        .agg(F.count("*").alias("n_arrived"))
    )
    return (
        arrivals.join(adm, "ep", "left").join(quar, "ep", "left")
        .select(
            "ep",
            F.col("n_arrived").cast("bigint").alias("n_arrived"),
            F.coalesce("n_admitted", F.lit(0)).cast("bigint")
            .alias("n_admitted"),
            F.coalesce("n_quarantined", F.lit(0)).cast("bigint")
            .alias("n_quarantined"),
            F.coalesce("admitted_idsum", F.lit(0)).cast("bigint")
            .alias("admitted_idsum"),
        )
        .orderBy("ep")
    )


@register(
    "q265_streaming_dedup_gate",
    _q265_oracle(),
    doc="Streaming dedup GATE — ingest-time quarantine, the apply "
        "member of the q262/q263 family and the operation a production "
        "pipeline runs BEFORE data enters the corpus: each arriving "
        "epoch is probed against the index of previously ADMITTED "
        "documents (band-bucket match ⇒ quarantine; admitted docs' "
        "band rows join the index — so the decision basis is itself "
        "gated, making the operator inherently sequential).  The "
        "declared query reports per-epoch arrivals, admissions, "
        "quarantines and an admitted-id checksum from the gate's "
        "persisted state; the oracle recomputes the whole sequential "
        "admission by an unrolled epoch chain from raw text — the "
        "value-hash certifies every admit/quarantine decision.  "
        "Probe reads are bounded by (band, bvp) partition pruning "
        "(batch's ≤48 bucket keys collected driver-side); all "
        "exchanges carry band rows (digests+ids), never text.",
    tags=("llm", "dedup", "minhash", "streaming", "governance"),
)
def q265(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q265_gate(spark, sf_dir)
    return _gate_report(
        spark, sf_dir, path,
        spark.read.parquet(os.path.join(path, "admitted_bands")))


# ---------------------------------------------------------------- Q266
def _q266_oracle() -> str:
    """q265's unrolled sequential admission + exact shingle-set Jaccard
    verification of every quarantine decision: a quarantined doc is
    VERIFIED when some admitted doc from a strictly earlier epoch that
    shares a band bucket has exact Jaccard >= dedup.JACCARD_MIN (the
    q74 verify predicate, dedup.ddb_near_dup)."""
    adm_union = " UNION ALL ".join(
        f"SELECT doc_id FROM a{k}" for k in range(_Q262_SPLITS))
    quar_union = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS ep FROM f{k}"
        for k in range(1, _Q262_SPLITS))
    return (
        _DDB_EPOCH_BANDS + _ddb_admission_chain()
        + f"admset AS ({adm_union}), quar AS ({quar_union}), "
        # candidates: quarantined y vs admitted x from strictly
        # earlier epochs sharing a band bucket — exactly the matches
        # the gate acted on
        "candq AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b "
        "FROM be x JOIN be y ON x.band = y.band AND x.bv = y.bv "
        "AND x.ep < y.ep AND x.doc_id IN (SELECT doc_id FROM admset) "
        "AND y.doc_id IN (SELECT doc_id FROM quar)), "
        f"{ddb_sizes_inter('candq')}, "
        f"ver AS (SELECT t.b, MAX(CASE WHEN {ddb_near_dup('t.i')} "
        "THEN 1 ELSE 0 END) AS v FROM inter t "
        "JOIN sizes sa ON sa.doc_id = t.a "
        "JOIN sizes sb ON sb.doc_id = t.b GROUP BY t.b), "
        "per AS (SELECT quar.ep, CAST(COUNT(*) AS BIGINT) AS n_q, "
        "CAST(SUM(COALESCE(ver.v, 0)) AS BIGINT) AS n_v "
        "FROM quar LEFT JOIN ver ON ver.b = quar.doc_id "
        "GROUP BY quar.ep), "
        "eps AS (SELECT DISTINCT ep FROM e) "
        "SELECT eps.ep, COALESCE(per.n_q, 0) AS n_quarantined, "
        "COALESCE(per.n_v, 0) AS n_verified, "
        "CAST(CASE WHEN COALESCE(per.n_q, 0) = 0 THEN 0 ELSE "
        "(per.n_v * 10000) // per.n_q END AS BIGINT) AS precision_bps "
        "FROM eps LEFT JOIN per USING (ep) ORDER BY eps.ep"
    )


@register(
    "q266_gate_precision_audit",
    _q266_oracle(),
    doc="Gate PRECISION audit — the governance closing piece of the "
        "q262/q263/q265 family: every quarantine decision the "
        "streaming gate made is re-examined by EXACT shingle-set "
        "Jaccard against the admitted docs it band-matched (the q74 "
        "verify predicate); "
        "per-epoch report of quarantined, verified (J >= 0.5), and "
        "precision in integer bps.  This is the measurement that "
        "justifies the gate's (k, bands) operating point before a "
        "100 TB deployment — LSH candidates are a superset of true "
        "near-dups, and an over-eager gate silently discards good "
        "data.  Candidates come from the gate's own persisted state "
        "(quarantine log × admitted index on (band, bv), earlier-"
        "epoch-only); verification is the q74 row-local "
        "array_intersect form, cost ∝ candidates; the oracle replays "
        "the whole sequential admission + verification from raw "
        "text.",
    tags=("llm", "dedup", "minhash", "streaming", "governance"),
)
def q266(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q265_gate(spark, sf_dir)
    adm = (
        spark.read.schema(_ADM_SCHEMA)
        .parquet(os.path.join(path, "admitted_bands"))
        .select(F.col("band").alias("aband"), F.col("bv").alias("abv"),
                F.col("doc_id").alias("a"), F.col("ep").alias("epa"))
    )
    quar = (
        spark.read.schema("doc_id long, ep int")
        .parquet(os.path.join(path, "quarantine"))
        .select(F.col("doc_id").alias("b"), F.col("ep").alias("epb"))
    )
    d = load_table(spark, sf_dir, "documents")
    # band rows for the quarantined docs (the gate never indexed them)
    # — recomputed from text, then matched against the admitted index
    qdocs = d.join(quar.select(F.col("b").alias("doc_id"), "epb"),
                   "doc_id", "inner")
    qsigs = dedup.minhash_signatures(
        dedup.doc_shingles(qdocs, distinct=False))
    qbands = (
        dedup.lsh_bands(qsigs)
        .join(quar.select(F.col("b").alias("doc_id"), "epb"), "doc_id")
        .select(F.col("doc_id").alias("b"), "epb", "band", "bv")
    )
    cand = (
        qbands.join(
            adm,
            (F.col("band") == F.col("aband"))
            & (F.col("bv") == F.col("abv"))
            & (F.col("epa") < F.col("epb")),
        )
        .select("a", "b")
        .distinct()
    )
    sharr = dedup.doc_shingle_arrays(d)
    jp = dedup.jaccard_pairs_arrays(cand, sharr)
    # verified flag per quarantined doc: any matched admitted doc with
    # J >= JACCARD_MIN.  Both engines divide the same two integers in
    # IEEE doubles, so the compare agrees bit for bit with the oracle.
    ver = (
        jp.select(
            "b",
            (F.col("jac") >= dedup.JACCARD_MIN).cast("int").alias("v"),
        )
        .groupBy("b")
        .agg(F.max("v").alias("v"))
    )
    perq = (
        quar.join(ver, "b", "left")
        .groupBy("epb")
        .agg(
            F.count("*").alias("n_q"),
            F.sum(F.coalesce("v", F.lit(0))).alias("n_v"),
        )
    )
    eps = d.select(_arrival_epoch().alias("ep")).distinct()
    return (
        eps.join(perq, eps.ep == perq.epb, "left")
        .select(
            "ep",
            F.coalesce("n_q", F.lit(0)).cast("bigint")
            .alias("n_quarantined"),
            F.coalesce("n_v", F.lit(0)).cast("bigint")
            .alias("n_verified"),
            F.when(F.coalesce("n_q", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.expr("CAST((n_v * 10000) DIV n_q AS BIGINT)"))
            .cast("bigint").alias("precision_bps"),
        )
        .orderBy("ep")
    )


# ---------------------------------------------------------------- Q267
_Q267_FOLD_EVERY = 3


@register(
    "q267_streaming_gate_lsm_fold",
    _q265_oracle(),
    doc="Streaming dedup gate WITH the LSM fold — the composition "
        "that completes the gate family (VERDICT r11 directive 2): "
        "q265's flat form appends one file per (band, bvp) dir per "
        "micro-batch forever, so a continuously-running gate pays "
        "listing/footer cost linear in batches; here the admitted "
        "index lives behind ONE {base_gen, delta_epoch} manifest "
        "(the q259/q260 machinery applied to band segments) — "
        "per-batch appends land in the live delta epoch and every "
        "3rd batch the base and delta fold into the next base "
        "generation, rewritten ONE file per (band, bvp) leaf, then a "
        "single atomic manifest replace flips both pointers (crash "
        "anywhere mid-fold leaves readers on old base + whole delta "
        "pile — consistent; GC only after the flip).  The 4-epoch "
        "fixture ends in the steady state a real gate serves from: a "
        "folded base (epochs 0-2) PLUS a live delta (epoch 3).  The "
        "quarantine DECISIONS are bit-identical to q265's (pinned by "
        "test — the fold only reorganizes files, never rows) and the "
        "oracle recomputes the full sequential admission from raw "
        "text.  Probe reads stay (band, bvp) partition-pruned within "
        "each live root; driver work per batch is O(1) manifest "
        "reads, never an index walk.",
    tags=("llm", "dedup", "minhash", "streaming", "governance",
          "layout"),
)
def q267(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q265_gate(spark, sf_dir, fold_every=_Q267_FOLD_EVERY)
    return _gate_report(
        spark, sf_dir, path,
        derived.read_roots(spark, derived.lsm_live_roots(path),
                           _ADM_SCHEMA))


# ---------------------------------------------------------------- Q268
def _q268_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) the STREAM-maintained exact-substring
    gram-digest index — the q262/q263 analogue for q261's semantics
    and the fourth streaming-index family member (q244 = inverted
    text, q254 = IVF, q262 = LSH bands, this = K-gram digests): the
    corpus arrives as 4 epoch files; each micro-batch computes its
    docs' stride-1 K-token gram digests (text.gram_digests — the
    identical function both engines evaluate), probes them against
    the ACCUMULATED index of earlier epochs' distinct digests (a gram
    start whose digest already exists is a cross-epoch substring
    duplicate hit), logs per-epoch hit accounting, then appends THIS
    batch's distinct digests as an immutable prefix-partitioned
    segment.

    Unlike the q265 gate, the index is append-only and decisions do
    NOT feed back (a flagged doc's grams still enter the index), so
    the operator is order-dependent but not sequential-gated — which
    is why the oracle needs only one strict ep-inequality join, not an
    unrolled admission chain.

    Scale notes (100 TB): per-batch work = one gram pass over the
    batch (map-side) + one digest-keyed semi-join against the index +
    one distinct-digest append; every exchange carries 16-char hex
    digests and ints, never text.  Per-batch segments fold with the
    q259/q267 manifest machinery when segment counts matter (not
    composed here — q267 certifies that composition for the family).
    """
    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        os.makedirs(tmp, exist_ok=True)
        idx_dir = os.path.join(tmp, "grams")
        hits_dir = os.path.join(tmp, "hits")
        stats = {"epochs_seen": [], "n_grams": [], "n_hits": []}

        def ingest(batch: DataFrame, batch_id: int) -> None:
            wl = ensure_min_partitions(batch).select(
                "doc_id", words().alias("wlist"))
            g = (
                wl.select(
                    "doc_id",
                    F.posexplode(gram_digests()).alias("pos", "gh"),
                )
                .withColumn("ep", _arrival_epoch())
                .persist()
            )
            try:
                eps = [r["ep"] for r in
                       g.select("ep").distinct().collect()]
                assert len(eps) <= 1, f"mixed-epoch batch: {eps}"
                ep = eps[0] if eps else None
                if ep is None:
                    return
                assert all(ep > e for e in stats["epochs_seen"]), (
                    stats["epochs_seen"], ep)
                stats["epochs_seen"].append(ep)

                has_index = sum(stats["n_grams"]) > 0
                if has_index:
                    idx = (spark.read
                           .schema("gh string, pfx string")
                           .parquet(idx_dir)
                           .select("gh"))
                    hits = g.join(idx, "gh", "semi")
                else:
                    hits = g.limit(0)
                (hits.select("doc_id", "pos", "ep")
                 .write.mode("append").parquet(hits_dir))
                # append AFTER the probe materialized (the hits
                # write above is the ordering barrier — Structured
                # Streaming serializes batches, and the probe plan
                # must never see this batch's own digests)
                (g.select("gh").distinct()
                 .withColumn("pfx", F.substring("gh", 1, 1))
                 .repartition("pfx")
                 .write.mode("append").partitionBy("pfx")
                 .parquet(idx_dir))
                stats["n_grams"].append(g.count())
                stats["n_hits"].append(
                    spark.read.schema("doc_id long, pos int, ep int")
                    .parquet(hits_dir)
                    .filter(F.col("ep") == ep).count())
            finally:
                g.unpersist()

        with build_shuffle_partitions(spark):
            replay_arrivals(spark, d, "doc_id", "q262", _Q262_SPLITS,
                            tmp, ingest)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(stats, f)

    return derived.companion("gram_stream", src,
                             ("gramidx-stream", src, _Q262_SPLITS), build)


def _q268_oracle() -> str:
    """Cross-epoch substring-dup hits recomputed from raw text: a gram
    start in epoch k is a hit iff the same digest occurs in ANY
    strictly earlier epoch — one EXISTS join, no unrolling (the index
    is append-only; decisions never feed back)."""
    return (
        f"WITH wl AS (SELECT doc_id, {ddb_words()} AS wl FROM documents), "
        "e AS (SELECT doc_id, "
        f"CAST({_DDB_ARRIVAL_EPOCH} AS INT) AS ep FROM documents), "
        f"{DDB_GRAMS}, "
        "ge AS (SELECT g.doc_id, g.pos, g.gh, e.ep FROM g "
        "JOIN e USING (doc_id)), "
        "hit AS (SELECT y.ep, y.doc_id FROM ge y WHERE EXISTS ("
        "SELECT 1 FROM ge x WHERE x.gh = y.gh AND x.ep < y.ep)), "
        "hp AS (SELECT ep, CAST(COUNT(*) AS BIGINT) AS n_hits, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_flagged "
        "FROM hit GROUP BY 1), "
        "tot AS (SELECT e.ep, CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) "
        "AS n_docs, CAST(COUNT(g.gh) AS BIGINT) AS n_grams "
        "FROM e LEFT JOIN ge g ON g.doc_id = e.doc_id AND g.ep = e.ep "
        "GROUP BY 1) "
        "SELECT tot.ep, tot.n_docs, tot.n_grams, "
        "COALESCE(hp.docs_flagged, 0) AS docs_flagged, "
        "COALESCE(hp.n_hits, 0) AS n_hits, "
        "CASE WHEN tot.n_grams = 0 THEN 0 ELSE "
        "CAST((COALESCE(hp.n_hits, 0) * 10000) // tot.n_grams "
        "AS BIGINT) END AS hit_bps "
        "FROM tot LEFT JOIN hp ON hp.ep = tot.ep ORDER BY tot.ep"
    )


@register(
    "q268_streaming_substring_dup_on_arrival",
    _q268_oracle(),
    doc="Streaming exact-substring dup-on-arrival — q261's semantics "
        "as an ingest-time operator and the fourth streaming-index "
        "family member (q244 inverted text, q254 IVF, q262 LSH bands, "
        "this = K-gram digests): each arriving epoch's stride-1 "
        "8-token gram digests are probed against the accumulated "
        "index of earlier epochs' DISTINCT digests (digest match = "
        "cross-epoch duplicated substring hit — the decontamination/"
        "novelty screen run before data enters a training corpus), "
        "hits logged per epoch, then the batch's distinct digests "
        "append as an immutable prefix-partitioned segment.  "
        "Append-only, no decision feedback (unlike the q265 gate), so "
        "the oracle is ONE strict ep-inequality EXISTS join from raw "
        "text, not an unrolled chain.  Declared output: per-epoch "
        "docs, gram count, flagged docs, hits, hit_bps.  All "
        "exchanges carry digests/ints, never text; per-batch segments "
        "fold with the q267 manifest machinery when counts matter.",
    tags=("llm", "dedup", "governance", "text", "streaming"),
)
def q268(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _q268_index(spark, sf_dir)
    wl = load_table(spark, sf_dir, "documents").select(
        "doc_id", words().alias("wlist"))
    # gram COUNT is pure arithmetic — never evaluate the digests just
    # to size them
    ng = F.when(
        F.size("wlist") >= GRAM_K,
        F.size("wlist") - (GRAM_K - 1),
    ).otherwise(F.lit(0))
    totals = (
        wl.select("doc_id", ng.alias("ng"))
        .withColumn("ep", _arrival_epoch())
        .groupBy("ep")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ng").cast("bigint").alias("n_grams"),
        )
    )
    hits = (
        spark.read.schema("doc_id long, pos int, ep int")
        .parquet(os.path.join(path, "hits"))
        .groupBy("ep")
        .agg(
            F.countDistinct("doc_id").cast("bigint")
            .alias("docs_flagged"),
            F.count("*").cast("bigint").alias("n_hits"),
        )
    )
    return (
        totals.join(hits, "ep", "left")
        .select(
            "ep", "n_docs", "n_grams",
            F.coalesce("docs_flagged", F.lit(0)).cast("bigint")
            .alias("docs_flagged"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint")
            .alias("n_hits"),
            F.when(F.col("n_grams") == 0, F.lit(0).cast("bigint"))
            .otherwise(F.expr(
                "CAST((COALESCE(n_hits, 0) * 10000) DIV n_grams "
                "AS BIGINT)"))
            .alias("hit_bps"),
        )
        .orderBy("ep")
    )
