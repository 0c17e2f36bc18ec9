"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the *decode* step is a
clearly-marked deterministic stub (`_fake_decode`) — but everything
Spark-side is real and load-bearing: the binary column type, the
mapInPandas signature, the Arrow batch shape, the output schema, and the
partition-parallel execution.  Swapping `_fake_decode` for PIL/ffmpeg is
a one-function change.

Scale notes: mapInPandas streams Arrow record batches through one Python
worker per core — decode cost parallelizes with partitions and no
driver-side materialization happens.  For 100 TB of media the payloads
would live in object storage with the parquet carrying (uri, byte_range)
instead of inline bytes; the decode UDF shape is identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_gateway_spark.operators.sampling import ddb_hex_int

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ]
)

_FMTS = ("jpeg", "png", "webp")

try:  # real codec path — not present in this container
    import PIL.Image  # noqa: F401

    HAVE_CODEC = True
except ImportError:
    HAVE_CODEC = False


def with_synthetic_binary(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a deterministic 16-byte ``payload`` binary column (stands in
    for image bytes; derived from md5 so oracles can recompute it)."""
    return documents.withColumn("payload", F.unhex(F.md5(F.col(text_col))))


def ddb_payload_byte(k: int) -> str:
    """DuckDB twin of payload byte ``k`` of :func:`with_synthetic_binary`,
    over a column ``h`` holding ``md5(text)``: hex pair (2k+1, 2k+2)."""
    return ddb_hex_int("h", 2 * k + 1, 2)


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """STUB decode: deterministic pseudo-metadata from the first bytes.

    A real implementation opens the payload with PIL/ffmpeg; raising
    NotImplementedError here would make the pipeline untestable, so the
    stub returns a deterministic fake with the same signature.
    """
    width = payload[0] % 64 + 16
    height = payload[1] % 64 + 16
    fmt = _FMTS[payload[2] % 3]
    return width, height, fmt


def decode_metadata(df: DataFrame) -> DataFrame:
    """(doc_id, payload) → (doc_id, byte_len, width, height, fmt) via
    Arrow-batched mapInPandas.

    The closure is deliberately self-contained (no references to this
    module's globals): executor Python workers deserialize it by value,
    so the pipeline works even when the repo package is not importable
    on the worker path (e.g. driver launched from another cwd).
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        fmts = ("jpeg", "png", "webp")

        def fake_decode(payload: bytes) -> tuple[int, int, str]:
            # STUB: see module docstring — deterministic fake metadata.
            return (
                payload[0] % 64 + 16,
                payload[1] % 64 + 16,
                fmts[payload[2] % 3],
            )

        for pdf in batches:
            meta = [fake_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "fmt": [m[2] for m in meta],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(decode, DECODED_SCHEMA)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("feat", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(df: DataFrame) -> DataFrame:
    """(doc_id, payload) → (doc_id, fmt, feat array<float>) via
    Arrow-batched mapInPandas — the feature-extraction stage of a
    multimodal ingest pipeline (CLIP-style embedding per image).

    STUB extractor (no vision model in this container): dim d of the
    feature is payload byte d / 256 — deterministic AND exact in both
    float32 and float64 (a byte over 2^8 needs ≤ 8 mantissa bits), so
    the DuckDB oracle recomputes it bit-identically from md5 hex
    arithmetic and the whole Arrow path (array<float> output column,
    batch shape, per-partition parallelism) is value-checked.  Swapping in a real encoder changes
    only the closure body; at 100 TB this stage is the GPU-bound one
    and runs with `spark.task.resource.gpu.amount` on the same plan.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        fmts = ("jpeg", "png", "webp")
        dim = 4

        for pdf in batches:
            payloads = list(pdf["payload"])
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": [fmts[p[2] % 3] for p in payloads],
                    "feat": [
                        [float(p[d]) / 256.0 for d in range(dim)]
                        for p in payloads
                    ],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(extract, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_key", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, stride: int = 5) -> DataFrame:
    """(doc_id, payload) video stand-in → one row per SAMPLED frame
    (every ``stride``-th of the clip's frames) via mapInPandas — the
    1→k row expansion shape of real video frame sampling, where the
    decode emits a frame tensor per sampled index.

    STUB: frame count = payload byte 3 mod 30 + 1; the sampled frame's
    payload stand-in is ``md5(hex(payload) || '|' || idx)`` (a string
    key the oracle recomputes; a real decoder would emit the frame
    bytes here).  Batch-shape note: output batches are larger than
    input batches (k rows per input row) — Arrow handles the expansion
    without driver involvement, and downstream repartitioning rebalances
    the skew a long video introduces.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        for pdf in batches:
            out_doc, out_idx, out_key = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = payload[3] % 30 + 1
                hexp = payload.hex()
                for idx in range(0, n_frames, stride):
                    out_doc.append(doc_id)
                    out_idx.append(idx)
                    out_key.append(
                        hashlib.md5(f"{hexp}|{idx}".encode()).hexdigest()
                    )
            yield _pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx,
                 "frame_key": out_key}
            )

    return df.select("doc_id", "payload").mapInPandas(sample, FRAME_SCHEMA)


def resize_stub(df: DataFrame, target: tuple[int, int] = (224, 224)) -> DataFrame:
    """Resize step: requires a real codec — explicit NotImplementedError
    when no codec is present (the Spark-side contract is documented by
    its signature: payload in, payload out, metadata updated)."""
    if not HAVE_CODEC:
        raise NotImplementedError(
            "resize requires an image codec (PIL) not present in this "
            "container; decode_metadata demonstrates the mapInPandas "
            "plumbing end-to-end"
        )
    raise NotImplementedError("real codec path not implemented")


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms_q", T.LongType()),
    ]
)

_RATES = (16000, 22050, 44100)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """(doc_id, payload) → per-clip audio features via Arrow-batched
    ``mapInPandas`` — the audio leg of the multimodal triple (image
    q108 / video q109 / audio here).  The waveform "decode" is the
    documented deterministic stub (payload bytes AS 8-bit samples; a
    real build calls soundfile/ffmpeg in its place — one-function
    swap); the feature math (RMS loudness over samples) is real and
    integer-quantized (sum of squares — exact in int64) so the oracle
    recomputes it bit-identically from the same hex bytes.

    100 TB: identical plan to decode_metadata — Arrow batches through
    one Python worker per core, no driver materialization; at GPU
    scale this stage carries ``spark.task.resource.gpu.amount`` and
    the batch loop feeds an encoder instead.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rates = _RATES  # captured in the closure, shipped to workers
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                samples = list(p)  # stub: bytes as 8-bit samples
                rows.append(
                    (
                        doc_id,
                        rates[p[0] % 3],
                        len(samples),
                        # integer sum of squared (centered) samples —
                        # exact, no float in the cross-engine contract
                        sum((s - 128) * (s - 128) for s in samples),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "sample_rate", "n_samples",
                               "rms_q"],
            )

    return df.select("doc_id", "payload").mapInPandas(feats, AUDIO_SCHEMA)
