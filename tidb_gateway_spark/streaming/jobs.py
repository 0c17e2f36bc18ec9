"""Structured Streaming jobs.

Each job takes a *streaming* events DataFrame (schema of the events
fixture after catalog normalization: event_id, ts timestamp, ts_us long,
user_id, event_type, value, props) and returns the transformed streaming
DataFrame; callers attach sinks.  Bounded replay of the fixture must
converge to the batch-equivalent declared queries q56–q59
(tests/test_streaming.py runs both and compares).

The reference carries streams only as opaque byte relays
(/root/reference/gateway/relay.go:12-99); event-time semantics,
watermarks and state stores are engine-side capability this rebuild adds.

:func:`replay_arrivals` is the write-path harness of the streaming
index builders (queries/streaming_retrieval.py): it replays a fixture
as a file stream of arrival units and hands each micro-batch to a
``foreachBatch`` callback.

Scale notes: the event jobs are keyed-state operators — state is
partitioned by group key across executors; watermarks bound state size
(without one, a session/dedup state store grows forever at 100 TB/day
ingest).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_gateway_spark.operators.sampling import hash_bps


def replay_arrivals(spark: SparkSession, frame: DataFrame, key_col: str,
                    salt: str, splits: int, tmp: str,
                    on_batch: Callable[[DataFrame, int], None]) -> int:
    """Replay ``frame`` as ``splits`` arrivals through one file-source
    stream and return the number of micro-batches that ran.

    Staging: rows go to split ``hash_bps(key_col, salt) % splits``, and
    each split is written as ONE file under ``tmp/stage``, in split
    order.  That is simulation staging (a real stream's arrival units
    are its source's), and the write order is a contract: the file
    source lists oldest-modified first, so with ``maxFilesPerTrigger=1``
    micro-batch i holds exactly split i.  The q265 gate's admission
    decisions depend on that epoch order (it asserts it per batch).

    The stream is read with ``frame``'s schema, runs ``on_batch(batch,
    batch_id)`` per micro-batch with its checkpoint at ``tmp/chk``, and
    drains with ``availableNow``.  ``on_batch`` runs on the driver, so
    it may reference anything (the worker pickling rule does not
    apply).
    """
    stage = os.path.join(tmp, "stage")
    sp = hash_bps(F.col(key_col), salt) % splits
    for i in range(splits):
        (frame.filter(sp == i).repartition(1)
         .write.mode("append").parquet(stage))
    n_batches = 0

    def run(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        on_batch(batch, batch_id)
        n_batches += 1

    (spark.readStream.schema(frame.schema)
     .option("maxFilesPerTrigger", 1)
     .parquet(stage)
     .writeStream.foreachBatch(run)
     .option("checkpointLocation", os.path.join(tmp, "chk"))
     .trigger(availableNow=True)
     .start()
     .awaitTermination())
    return n_batches


def events_file_schema(spark: SparkSession, path: str) -> T.StructType:
    """Declared schema for the events file stream, taken from the actual
    parquet footers (one driver-side metadata read).  The fixture's ts
    storage has changed shape across generations (nanos-as-long →
    timestamp[us]); hard-coding either breaks on the other, and a
    readStream with a wrong declared schema returns garbage rather than
    erroring — so the schema is always derived, never assumed.
    """
    from tidb_gateway_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    return spark.read.parquet(path).schema


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over event parquet files, normalized like
    catalog.load_table('events') (shared dtype-dispatch)."""
    from tidb_gateway_spark.catalog import normalize_events

    raw = (
        spark.readStream.schema(events_file_schema(spark, path))
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )
    return normalize_events(raw)


def tumbling_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """q56 twin: 5-minute tumbling window counts keyed like the batch
    form (w = floor(epoch/300))."""
    win = F.window("ts", f"{minutes} minutes")
    return (
        events.groupBy(win.alias("win"))
        .agg(F.count("*").alias("n"))
        .select(
            F.floor(F.unix_timestamp("win.start") / (minutes * 60))
            .cast("bigint")
            .alias("w"),
            "n",
        )
    )


def sliding_counts(events: DataFrame, minutes: int = 10, slide: int = 5) -> DataFrame:
    """q57 twin: sliding window counts, keyed by the window END bucket so
    it aligns with the batch formulation n10(w) = n(w) + n(w-1)."""
    win = F.window("ts", f"{minutes} minutes", f"{slide} minutes")
    return (
        events.groupBy(win.alias("win"))
        .agg(F.count("*").alias("n10"))
        .select(
            (F.floor(F.unix_timestamp("win.end") / (slide * 60)) - 1)
            .cast("bigint")
            .alias("w"),
            "n10",
        )
    )


def session_counts(events: DataFrame, gap_minutes: int = 30,
                   watermark: str | None = None) -> DataFrame:
    """q58 twin: session_window with a 30-minute gap → sessions per user.

    Returns one row per (user_id, session); the convergence check counts
    sessions per user after the stream drains.

    With ``watermark``, out-of-order events arriving within the
    watermark MERGE open sessions (an event landing in the gap between
    two provisional sessions fuses them into one — asserted by
    tests/test_streaming.py::test_session_late_event_merges_sessions);
    events older than the watermark are dropped (the late-record filter
    runs one batch behind the eviction watermark — see
    test_session_event_beyond_watermark_dropped) and the state store
    evicts sessions that closed before it.  Without one, state is
    unbounded — only acceptable for bounded replays.
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("sw"), "user_id"
        )
        .agg(F.count("*").alias("events_in_session"))
    )


def stateful_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """q59 twin: exactly-once (user_id, event_type) pairs via the
    dropDuplicates state store.

    State-size caveat (the reason :func:`stateful_dedup_bounded`
    exists): ``dropDuplicates`` only evicts state by watermark when the
    event-time column is AMONG the dedup keys; with keys
    (user_id, event_type) the store here grows with key cardinality
    forever.  Acceptable for bounded replays and naturally-bounded key
    domains; wrong for 100 TB/day ingest."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stateful_dedup_bounded(events: DataFrame,
                           watermark: str = "10 minutes") -> DataFrame:
    """State-BOUNDED streaming dedup via ``dropDuplicatesWithinWatermark``
    (Spark 3.5+): dedups on (user_id, event_type) while the state store
    evicts entries once the watermark passes their first-seen event
    time — even though ``ts`` is not a dedup key.  This is the 100 TB
    form: state size ∝ keys active within one watermark interval, not
    the all-time key domain.  Semantics trade-off: a duplicate arriving
    later than the watermark after its first occurrence re-emits (by
    then the guarantee window has closed) — exactly-once within the
    watermark, at-least-once beyond it."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def windowed_counts_with_watermark(events: DataFrame, minutes: int = 5,
                                   watermark: str = "10 minutes") -> DataFrame:
    """Append-mode tumbling counts with a watermark: windows close (emit)
    only once the watermark passes window end; later rows are dropped —
    the late-data policy test drives this job."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(
            F.floor(F.unix_timestamp("win.start") / (minutes * 60))
            .cast("bigint")
            .alias("w"),
            "n",
        )
    )


def stateful_running_totals(events: DataFrame,
                            watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value total), updated each micro-batch from
    explicit keyed state.

    This is the escape hatch for stateful semantics the built-in
    window/dedup operators cannot express (running ML feature state,
    custom sessionization, CDC merge).  State shards by group key across
    executors exactly like the built-in operators; the watermark bounds
    how long idle keys could be retained if a timeout were configured.
    Arrow moves each group's batch rows into pandas; state is a typed
    tuple, O(1) per key.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n long, total double"
    state_schema = "n long, total double"

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_funnel(events: DataFrame, window_minutes: int = 60,
                         watermark: str = "2 hours") -> DataFrame:
    """Stream–stream inner join: each purchase joined to same-user
    signups within the preceding ``window_minutes`` (funnel pairing,
    the q21 family as a streaming join).

    Both sides carry a watermark and the join has an event-time RANGE
    condition, so the state store evicts rows once they can no longer
    match — bounded state, the stream–stream join contract.  Inner
    joins emit matches as they arrive (the watermark bounds state, not
    emission).  Both sides may derive from the same source stream
    (self-join).
    """
    s = (
        events.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"),
                F.col("event_id").alias("s_id"))
        .withWatermark("s_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts")
           + F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return s.join(p, cond, "inner").select("s_id", "p_id")


def stream_stream_funnel_outer(events: DataFrame, window_minutes: int = 60,
                               watermark: str = "2 hours") -> DataFrame:
    """Stream-stream LEFT OUTER join: every signup, paired with its
    conversion purchase when one arrives within ``window_minutes`` —
    and emitted with NULL purchase columns once the watermark proves no
    match can still arrive.

    The outer variant is a different operator from the inner funnel:
    null-side rows can only be emitted when the state store is CERTAIN
    the match window has expired, so emission is watermark-delayed and
    both the time-range join condition and the watermark are mandatory
    (Spark rejects the plan otherwise).  At scale this is the
    "abandonment" stream — the rows the inner join never shows.
    """
    s = (
        events.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"),
                F.col("event_id").alias("s_id"))
        .withWatermark("s_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts")
           + F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return s.join(p, cond, "left_outer").select("s_id", "p_id")


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream–static enrichment join: events ⋈ customer dimension.

    The static side is broadcast per micro-batch (Q10's shape, streamed).
    """
    return (
        events.join(
            F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


def run_to_completion(stream_df: DataFrame, query_name: str,
                      output_mode: str = "complete", timeout_sec: int = 120) -> DataFrame:
    """Drain a bounded stream into an in-memory sink; return the result
    as a batch DataFrame.  Test/bounded-replay helper."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    spark = stream_df.sparkSession
    return spark.table(query_name)


def stateful_ewma(events: DataFrame, alpha: float = 0.5,
                  watermark: str = "10 minutes") -> DataFrame:
    """Streaming EWMA (q182's twin) via ``applyInPandasWithState``:
    per-user exponentially weighted value, folded in event-time order
    within each micro-batch over explicit keyed state.

    The batch form unrolls the recursion into closed-form window
    weights (queries/governance.q182); a stream cannot — the
    state IS the recursion: one (ewma, n) pair per user, O(1) memory
    regardless of stream length, sharded by key across executors like
    every built-in stateful operator.  Rows are sorted by (ts,
    event_id) inside each batch; the file-replay harness delivers
    batches in event-time order, as a real ingest stream (and any
    out-of-order remainder is what the watermark bounds).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n long, ewma double"
    state_schema = "n long, ewma double"

    def update(key, pdfs, state):
        import pandas as pd

        n, ew = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["value"]).sort_values(
                ["ts", "event_id"])
            for v in pdf["value"].to_numpy():
                v = float(v)
                ew = v if n == 0 else alpha * v + (1.0 - alpha) * ew
                n += 1
        state.update((n, ew))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "ewma": [ew]})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_cms_cells(events: DataFrame,
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming count–min sketch over user_id: the SAME cell
    construction as the batch sketch (operators/sketch.cms_cells) run
    as an incremental streaming aggregation — each micro-batch's
    counter increments merge into the grouped state because CMS update
    and CMS merge are the same addition.  Fixed ≤ depth·width rows of
    state regardless of stream length; estimates come from joining
    probes against the final cells exactly as in the batch q179."""
    from tidb_gateway_spark.operators import sketch

    return sketch.cms_cells(
        events.withWatermark("ts", watermark), F.col("user_id"))
