"""Streaming convergence tests (SURVEY.md §5.2 item 4): a bounded replay
of the events fixture through Structured Streaming must converge to the
batch-equivalent declared queries q56–q59; plus the watermark late-data
policy test."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.queries import REGISTRY
from tidb_gateway_spark.streaming import jobs

from tests.oracle_diff import canonical_rows


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """Split the events fixture into 4 parquet files so the file-source
    stream replays it as 4 micro-batches."""
    d = tmp_path_factory.mktemp("events_stream")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")  # raw ns longs
    raw.orderBy("event_id").coalesce(1).sortWithinPartitions("event_id").repartitionByRange(
        4, "event_id"
    ).write.mode("overwrite").parquet(str(d / "in"))
    # The file source replays files in MODIFICATION-TIME order, and the
    # writer stamps every part identically — replay order would be
    # arbitrary, and an out-of-time-order replay legitimately drops old
    # rows once the watermark has advanced.  Stamp ascending mtimes in
    # range (= event-time) order so the bounded replay is deterministic
    # and time-ordered, as a real ingest stream would be.
    import glob
    import time

    base = time.time()
    for i, f in enumerate(sorted(glob.glob(str(d / "in" / "part-*")))):
        os.utime(f, (base + i, base + i))
    return str(d / "in")


def drain(spark, stream_df, name, mode="complete"):
    return jobs.run_to_completion(stream_df, name, output_mode=mode)


def assert_matches_batch(stream_result, batch_df, keys):
    a = canonical_rows(stream_result.select(*keys).toPandas())
    b = canonical_rows(batch_df.select(*keys).toPandas())
    assert a == b


def test_tumbling_converges(spark, sf_dir, stream_dir):
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.tumbling_counts(s), "t_tumbling")
    batch = REGISTRY["q56_tumbling_window"].spark(spark, sf_dir)
    assert_matches_batch(res, batch, ["w", "n"])


def test_sliding_converges(spark, sf_dir, stream_dir):
    """Stream sliding-window counts == the same F.window computation in
    batch mode.  (The declared q57 form is a lag-over-present-buckets
    proxy that skips empty buckets, so the faithful convergence target is
    the batch run of the identical window job.)"""
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.sliding_counts(s), "t_sliding")
    batch = jobs.sliding_counts(load_table(spark, sf_dir, "events"))
    assert_matches_batch(res, batch, ["w", "n10"])


def test_session_converges(spark, sf_dir, stream_dir):
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.session_counts(s), "t_session")
    per_user = res.groupBy("user_id").agg(F.count("*").alias("sessions"))
    batch = REGISTRY["q58_session_window"].spark(spark, sf_dir)
    assert_matches_batch(per_user, batch, ["user_id", "sessions"])


def test_stateful_dedup_converges(spark, sf_dir, stream_dir):
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.stateful_dedup(s), "t_dedup", mode="append")
    n_stream = res.count()
    n_batch = REGISTRY["q59_stateful_dedup"].spark(spark, sf_dir).collect()[0]["n"]
    assert n_stream == n_batch


def test_stateful_dedup_bounded_converges(spark, sf_dir, stream_dir):
    """dropDuplicatesWithinWatermark (state bounded by the watermark
    even though ts is not a dedup key): with a watermark wider than the
    fixture's 30-day event-time span, no state evicts during the replay
    and the emitted set equals the batch distinct — the same
    convergence target as the unbounded form, on the operator whose
    state is evictable in production (duplicates beyond the watermark
    legitimately re-emit; see jobs.stateful_dedup_bounded)."""
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.stateful_dedup_bounded(s, watermark="60 days"),
                "t_dedup_wm", mode="append")
    n_stream = res.count()
    n_batch = REGISTRY["q59_stateful_dedup"].spark(spark, sf_dir).collect()[0]["n"]
    assert n_stream == n_batch


def test_stream_static_join(spark, sf_dir, stream_dir):
    s = jobs.read_events_stream(spark, stream_dir)
    cust = load_table(spark, sf_dir, "customer")
    res = drain(spark, jobs.stream_static_join(s, cust), "t_enrich")
    batch = (
        load_table(spark, sf_dir, "events")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    assert_matches_batch(res, batch, ["c_mktsegment", "n"])


def test_stream_stream_join_converges(spark, sf_dir, stream_dir):
    """Stream–stream self-join (signup ⋈ purchase within 60 min, both
    sides watermarked, event-time range condition → bounded state):
    the drained pair set must equal the identical batch join."""
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.stream_stream_funnel(s), "t_ssjoin",
                mode="append")
    e = load_table(spark, sf_dir, "events")
    su = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_id"))
    pu = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"))
    batch = su.join(
        pu,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 60 MINUTES")),
        "inner",
    ).select("s_id", "p_id")
    assert batch.count() > 0, "fixture has no signup->purchase pairs"
    assert_matches_batch(res, batch, ["s_id", "p_id"])


def test_stateful_running_totals_converges(spark, sf_dir, stream_dir):
    """applyInPandasWithState custom operator: after draining the
    bounded replay, each user's LAST emitted (n, total) must equal the
    batch groupBy answer — explicit keyed state accumulated across
    micro-batches matches a one-shot aggregation."""
    s = jobs.read_events_stream(spark, stream_dir)
    job = jobs.stateful_running_totals(s)
    emissions: list = []

    def sink(batch_df, _bid):
        emissions.append(batch_df.collect())

    q = (
        job.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    last = {}  # update mode: the final emission per user wins
    for batch in emissions:
        for r in batch:
            last[r["user_id"]] = (r["n"], r["total"])
    batch_ans = {
        r["user_id"]: (r["n"], r["total"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(last) == set(batch_ans)
    for u, (n, total) in batch_ans.items():
        assert last[u][0] == n, u
        assert abs(last[u][1] - total) < 1e-6, u


def test_session_late_event_merges_sessions(spark, tmp_path):
    """Session-window late-merge (SURVEY §5.2): an out-of-order event
    arriving WITHIN the watermark, landing in the gap between two
    provisional sessions, must fuse them into one session covering all
    three events — not open a third session or be dropped."""
    import pandas as pd

    d = tmp_path / "smerge"
    os.makedirs(d / "in", exist_ok=True)

    def write_batch(name, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(d / "in" / name)

    base_ns = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    # batch 1: user 1 at t=0 and t=50min — 50min apart > 30min gap, so
    # the provisional state is TWO sessions.
    write_batch("b1.parquet", [
        (1, base_ns + 0 * m, 1, "click", 1.0, "{}"),
        (2, base_ns + 50 * m, 1, "click", 1.0, "{}"),
    ])
    # batch 2: out-of-order event at t=25min (within the 2h watermark:
    # max_ts 50min − 120min < 0, nothing is final yet).  Gaps become
    # 25min and 25min — both under the 30min gap → one merged session.
    write_batch("b2.parquet", [
        (3, base_ns + 25 * m, 1, "click", 1.0, "{}"),
    ])

    s = jobs.read_events_stream(spark, str(d / "in"), max_files_per_trigger=1)
    job = jobs.session_counts(s, gap_minutes=30, watermark="2 hours")
    per_batch: list[list] = []  # complete mode: each batch = full state

    def sink(batch_df, _bid):
        per_batch.append(batch_df.collect())

    q = (
        job.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(d / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # before the late event: the provisional state is TWO sessions
    before = sorted(per_batch[0], key=lambda r: r["sw"]["start"])
    assert [r["events_in_session"] for r in before] == [1, 1], before
    # after it: exactly ONE merged session holding all 3 events,
    # spanning t=0 → last event + gap
    finals = per_batch[-1]
    assert len(finals) == 1, finals
    assert finals[0]["events_in_session"] == 3, finals
    sw = finals[0]["sw"]
    span_min = (sw["end"] - sw["start"]).total_seconds() / 60
    assert span_min == 50 + 30, span_min


def test_session_event_beyond_watermark_dropped(spark, tmp_path):
    """The drop side of the session-window watermark contract (TODO.md,
    complement of the late-MERGE test above): an event arriving OLDER
    than the watermark must neither create a new session nor merge into
    an existing one.

    Timing note (measured on this Spark build): the stateful operator's
    late-record filter uses the PREVIOUS batch's planning watermark —
    one batch behind the eviction watermark — so the drop becomes
    observable for data arriving two batches after the watermark-
    advancing event; an interposed batch makes the filter current.
    Append mode — complete mode exempts late rows from watermark
    filtering, so only append can assert the drop."""
    import pandas as pd

    d = tmp_path / "sdrop"
    os.makedirs(d / "in", exist_ok=True)

    def write_batch(name, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(d / "in" / name)

    base_ns = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    # batch 1: user 1 at t=0 and t=100min → two provisional sessions;
    # after the batch the watermark advances to 100min − 10min = 90min.
    write_batch("b1.parquet", [
        (1, base_ns + 0 * m, 1, "click", 1.0, "{}"),
        (2, base_ns + 100 * m, 1, "click", 1.0, "{}"),
    ])
    # batch 2: benign current-time event (user 3) — brings the late-
    # record filter up to the 90min watermark.
    write_batch("b2.parquet", [
        (4, base_ns + 101 * m, 3, "click", 1.0, "{}"),
    ])
    # batch 3: user 2 at t=25min — 65min older than the watermark.
    # Accepted, it would create (and immediately finalize) a user-2
    # session [25, 55]; dropped, user 2 never appears.
    write_batch("b3.parquet", [
        (3, base_ns + 25 * m, 2, "click", 1.0, "{}"),
    ])

    s = jobs.read_events_stream(spark, str(d / "in"), max_files_per_trigger=1)
    job = jobs.session_counts(s, gap_minutes=30, watermark="10 minutes")
    rows: list = []

    def sink(batch_df, _bid):
        rows.extend(batch_df.collect())

    q = (
        job.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # the dropped event created no session: user 2 never appears, and
    # the only finalized session is user 1's t=0 singleton (the t=100
    # and t=101 sessions stay open past the final watermark)
    assert all(r["user_id"] != 2 for r in rows), rows
    assert len(rows) == 1, rows
    assert rows[0]["user_id"] == 1 and rows[0]["events_in_session"] == 1, rows
    sw = rows[0]["sw"]
    span_min = (sw["end"] - sw["start"]).total_seconds() / 60
    assert span_min == 30, span_min


def test_watermark_drops_late_rows(spark, tmp_path):
    """Inject a late row in a second file; with a 10-minute watermark the
    closed window must not include it (SURVEY §2B watermark row)."""
    import pandas as pd

    d = tmp_path / "late"
    os.makedirs(d / "in", exist_ok=True)

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf.to_parquet(d / "in" / name)

    base_ns = 1_699_999_800 * 1_000_000_000  # multiple of 300 s: window-aligned
    m = 60 * 1_000_000_000
    # batch 1: events at t=0..4min (window w0) and t=30min (advances
    # watermark to 20min > w0 end) — w0 closes with n=2.
    write_batch("b1.parquet", [
        (1, base_ns + 1 * m, 1, "click", 1.0, "{}"),
        (2, base_ns + 3 * m, 1, "click", 1.0, "{}"),
        (3, base_ns + 30 * m, 1, "click", 1.0, "{}"),
    ])

    s = jobs.read_events_stream(spark, str(d / "in"), max_files_per_trigger=1)
    job = jobs.windowed_counts_with_watermark(s, minutes=5, watermark="10 minutes")

    def run_once(sink_rows):
        def sink(batch_df, _bid):
            sink_rows.extend(batch_df.collect())

        q = (
            job.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first_rows: list = []
    run_once(first_rows)
    first = {r["w"]: r["n"] for r in first_rows}
    w0 = (base_ns // 1_000_000_000) // 300

    # batch 2: a LATE row for w0 (t=2min) — the checkpointed watermark is
    # already at 20min, so the row must be dropped, not re-emitted.
    write_batch("b2.parquet", [(4, base_ns + 2 * m, 1, "click", 1.0, "{}")])
    second_rows: list = []
    run_once(second_rows)
    second = {r["w"]: r["n"] for r in second_rows}

    assert first.get(w0) == 2, f"on-time window wrong: {first}"
    assert w0 not in second, f"late row re-opened closed window: {second}"


def test_stream_stream_left_outer_join_converges(spark, sf_dir, stream_dir):
    """LEFT OUTER stream-stream join: matched pairs must equal the batch
    inner join exactly; null-side (abandonment) rows may only appear
    for batch-unmatched signups, and MUST appear for every unmatched
    signup whose match window provably expired before the final
    watermark (s_ts + 60 min < max_ts − 2 h).  Signups still inside
    the watermark horizon at end-of-replay legitimately stay in state
    — the outer join's correctness contract is exactly this split."""
    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.stream_stream_funnel_outer(s), "t_ssouter",
                mode="append").cache()

    e = load_table(spark, sf_dir, "events")
    su = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_id"))
    pu = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"))
    cond = (
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 60 MINUTES"))
    )
    batch_inner = su.join(pu, cond, "inner").select("s_id", "p_id")

    # 1. matched stream rows == batch inner join
    assert_matches_batch(
        res.filter(F.col("p_id").isNotNull()), batch_inner,
        ["s_id", "p_id"])

    # 2./3. null rows: subset of batch-unmatched, superset of the
    # provably-expired unmatched set
    unmatched = set(
        r["s_id"]
        for r in su.join(batch_inner, "s_id", "left_anti")
        .select("s_id").collect()
    )
    got_nulls = set(
        r["s_id"] for r in res.filter(F.col("p_id").isNull()).collect()
    )
    assert got_nulls <= unmatched, got_nulls - unmatched
    # Certainty cutoff: null emission happens when a LATER batch's
    # watermark passes s_ts + 60 min.  With availableNow the watermark
    # used by the final batch derives from data seen in the batches
    # BEFORE it, so the provable basis is the max event time of all
    # but the last replay file (replay order = mtime = sorted name).
    import glob as _glob

    parts = sorted(_glob.glob(os.path.join(stream_dir, "part-*")))[:-1]
    pre_max_us = (
        spark.read.parquet(*parts)
        .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("m"))
        .collect()[0]["m"]
    )
    cutoff = pre_max_us - (2 * 3600 + 3600 + 60) * 1_000_000
    expired = set(
        r["s_id"]
        for r in e.filter(F.col("event_type") == "signup")
        .filter(F.col("ts_us") < F.lit(cutoff))
        .select(F.col("event_id").alias("s_id")).collect()
    ) & unmatched
    assert expired <= got_nulls, expired - got_nulls
    res.unpersist()


def test_checkpoint_restart_recovers_state(spark, tmp_path):
    """Durability contract: a query stopped and RESTARTED from the same
    checkpointLocation must (a) not reprocess batches it already
    committed and (b) recover its operator state — a key deduplicated
    in run 1 stays deduplicated in run 2.  This is the recovery story
    a 100 TB ingest pipeline depends on; in-run checkpoint tests don't
    cover it."""
    import pandas as pd

    d = tmp_path / "ckrestart"
    os.makedirs(d / "in", exist_ok=True)

    def write_batch(name, rows):
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ).to_parquet(d / "in" / name)

    base_ns = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    write_batch("b1.parquet", [
        (1, base_ns + 0 * m, 1, "click", 1.0, "{}"),
        (2, base_ns + 1 * m, 2, "click", 1.0, "{}"),
        (3, base_ns + 2 * m, 2, "click", 1.0, "{}"),   # in-run dup
    ])

    def run_once(sink_rows):
        s = jobs.read_events_stream(spark, str(d / "in"))
        job = jobs.stateful_dedup(s, watermark="2 hours")
        q = (
            job.writeStream.foreachBatch(
                lambda bdf, _bid: sink_rows.extend(
                    (r["user_id"], r["event_type"]) for r in bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run1: list = []
    run_once(run1)
    assert sorted(run1) == [(1, "click"), (2, "click")], run1

    # new file arrives while the query is DOWN: a cross-run duplicate
    # of (2, click) and a genuinely new (3, view)
    write_batch("b2.parquet", [
        (4, base_ns + 3 * m, 2, "click", 1.0, "{}"),
        (5, base_ns + 4 * m, 3, "view", 1.0, "{}"),
    ])
    run2: list = []
    run_once(run2)
    # recovered state dedups the cross-run duplicate; committed batch
    # b1 is not reprocessed (no re-emission of run-1 pairs)
    assert sorted(run2) == [(3, "view")], run2


def test_stateful_ewma_converges(spark, sf_dir, stream_dir):
    """Streaming EWMA (explicit keyed state, recursion folded per
    micro-batch in event-time order) must converge to the batch
    closed-form unrolling of the same recursion (the q182 weight
    algebra, here per event instead of per day)."""
    from pyspark.sql.window import Window

    s = jobs.read_events_stream(spark, stream_dir)
    job = jobs.stateful_ewma(s)
    emissions: list = []

    q = (
        job.writeStream.foreachBatch(
            lambda b, _i: emissions.append(b.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    last = {}
    for batch in emissions:
        for r in batch:
            last[r["user_id"]] = (r["n"], r["ewma"])

    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    rows = e.select(
        "user_id", "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    weight = (
        F.when(F.col("rn") == 1, F.pow(F.lit(0.5), F.col("n") - 1))
        .otherwise(F.lit(0.5) * F.pow(F.lit(0.5), F.col("n") - F.col("rn")))
    )
    batch_ans = {
        r["user_id"]: (r["n"], r["ewma"])
        for r in rows.groupBy("user_id")
        .agg(F.max("n").alias("n"),
             F.sum(weight * F.col("value")).alias("ewma"))
        .collect()
    }
    assert set(last) == set(batch_ans)
    for u, (n, ew) in batch_ans.items():
        assert last[u][0] == n, u
        assert abs(last[u][1] - ew) < 1e-9 * max(1.0, abs(ew)), u


def test_streaming_cms_cells_converge_to_batch_sketch(spark, sf_dir,
                                                      stream_dir):
    """The streaming CMS must end at exactly the batch sketch: after
    draining the bounded replay in complete mode, every (j, bucket)
    cell count equals operators/sketch.cms_cells over the static
    events table — the update≡merge algebra that makes the sketch a
    valid incremental aggregate."""
    from tidb_gateway_spark.operators import sketch

    s = jobs.read_events_stream(spark, stream_dir)
    res = drain(spark, jobs.streaming_cms_cells(s), "cms_cells")
    stream_cells = {(r["j"], r["bucket"]): r["cnt"] for r in res.collect()}

    batch = sketch.cms_cells(
        load_table(spark, sf_dir, "events"), F.col("user_id"))
    batch_cells = {(r["j"], r["bucket"]): r["cnt"]
                   for r in batch.collect()}
    assert stream_cells == batch_cells


def test_stateful_ewma_checkpoint_restart_recovers_state(spark, tmp_path):
    """The r6 stateful ops get the same durability treatment as the
    q56-era ones: stop stateful_ewma, deliver more data while it is
    DOWN, restart from the same checkpointLocation — the recovered
    (n, ewma) keyed state must continue the recursion, not restart it
    (a lost state would emit n=1, ewma=v for the new row)."""
    import pandas as pd

    d = tmp_path / "ewma_restart"
    os.makedirs(d / "in", exist_ok=True)

    def write_batch(name, rows):
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ).to_parquet(d / "in" / name)

    base_ns = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    write_batch("b1.parquet", [
        (1, base_ns + 0 * m, 1, "click", 10.0, "{}"),
        (2, base_ns + 1 * m, 1, "click", 20.0, "{}"),
    ])

    def run_once(emissions):
        s = jobs.read_events_stream(spark, str(d / "in"))
        job = jobs.stateful_ewma(s, alpha=0.5)
        q = (
            job.writeStream.foreachBatch(
                lambda bdf, _bid: emissions.extend(bdf.collect()))
            .outputMode("update")
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run1: list = []
    run_once(run1)
    got1 = {r["user_id"]: (r["n"], r["ewma"]) for r in run1}
    # fold of [10, 20] at alpha=.5: ew=10, then .5*20+.5*10 = 15
    assert got1 == {1: (2, 15.0)}, got1

    # new value arrives while the query is DOWN
    write_batch("b2.parquet", [
        (3, base_ns + 2 * m, 1, "click", 30.0, "{}"),
    ])
    run2: list = []
    run_once(run2)
    got2 = {r["user_id"]: (r["n"], r["ewma"]) for r in run2}
    # recovered state continues: .5*30 + .5*15 = 22.5 with n=3; a
    # fresh state would have produced (1, 30.0)
    assert got2 == {1: (3, 22.5)}, got2


def test_streaming_cms_checkpoint_restart_merges_state(spark, tmp_path):
    """streaming_cms_cells across a stop/restart: the recovered
    aggregation state must merge batch-2 increments into the batch-1
    counters, ending at exactly the batch sketch over ALL rows — the
    update≡merge CMS algebra surviving a checkpoint cycle (a lost
    state would leave cells counting only the post-restart file)."""
    import pandas as pd

    from tidb_gateway_spark.operators import sketch

    d = tmp_path / "cms_restart"
    os.makedirs(d / "in", exist_ok=True)

    def write_batch(name, rows):
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ).to_parquet(d / "in" / name)

    base_ns = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    write_batch("b1.parquet", [
        (i, base_ns + i * m, uid, "click", 1.0, "{}")
        for i, uid in enumerate([1, 1, 2, 3])
    ])

    def run_once():
        last: list = []
        s = jobs.read_events_stream(spark, str(d / "in"))
        job = jobs.streaming_cms_cells(s)
        q = (
            job.writeStream.foreachBatch(
                lambda bdf, _bid: (last.clear(), last.extend(bdf.collect())))
            .outputMode("complete")
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return last

    run_once()

    # more traffic (incl. repeat heavy-hitter user 1) while it is DOWN
    write_batch("b2.parquet", [
        (i + 10, base_ns + (i + 10) * m, uid, "click", 1.0, "{}")
        for i, uid in enumerate([1, 4, 4, 1])
    ])
    final = run_once()
    stream_cells = {(r["j"], r["bucket"]): r["cnt"] for r in final}

    batch = sketch.cms_cells(
        spark.read.parquet(str(d / "in")).withColumn(
            "ts", (F.col("ts") / 1e9).cast("timestamp")),
        F.col("user_id"))
    batch_cells = {(r["j"], r["bucket"]): r["cnt"]
                   for r in batch.collect()}
    assert stream_cells == batch_cells


def test_partitioned_file_sink_exactly_once_across_restart(spark, tmp_path):
    """The 100 TB ingest edge: a streaming query writing a
    DAY-PARTITIONED parquet sink (the q200 layout, fed by a stream)
    with a file-sink commit log must deliver each input row exactly
    once across a stop/restart — committed batches are not rewritten,
    files from the first run are not double-counted, and the day
    directories are real partitions."""
    import pandas as pd

    d = tmp_path / "ingest"
    os.makedirs(d / "in", exist_ok=True)
    out, ck = str(d / "out"), str(d / "ckpt")

    base_ns = 1_700_000_000 * 1_000_000_000
    day_ns = 24 * 3600 * 1_000_000_000

    def write_batch(name, rows):
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ).to_parquet(d / "in" / name)

    def run_once():
        s = jobs.read_events_stream(spark, str(d / "in"))
        q = (
            s.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .partitionBy("day")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1.parquet", [
        (1, base_ns, 1, "click", 1.0, "{}"),
        (2, base_ns + day_ns, 2, "click", 1.0, "{}"),
    ])
    run_once()
    write_batch("b2.parquet", [
        (3, base_ns + 2 * day_ns, 3, "view", 1.0, "{}"),
    ])
    run_once()

    back = spark.read.parquet(out)
    got = sorted(r["event_id"] for r in back.select("event_id").collect())
    assert got == [1, 2, 3], got  # each row exactly once, no re-emission
    days = sorted(r["day"] for r in back.select("day").distinct().collect())
    assert len(days) == 3, days
    # directory layout is a real hive partition per day
    parts = sorted(p for p in os.listdir(out) if p.startswith("day="))
    assert len(parts) == 3, parts


def test_replay_arrivals_one_split_per_batch_in_split_order(spark,
                                                            tmp_path):
    """The streaming-index harness stages split i as the i-th written
    file, so the file source hands micro-batch i exactly split i — the
    epoch order the q265 gate's admission decisions depend on — and
    returns the number of batches it ran."""
    from tidb_gateway_spark.operators.sampling import hash_bps

    frame = spark.range(60).withColumnRenamed("id", "doc_id")
    split = (hash_bps(F.col("doc_id"), "replay") % 3).cast("int")
    sizes = {r["s"]: r["n"] for r in
             frame.groupBy(split.alias("s")).count()
             .withColumnRenamed("count", "n").collect()}
    assert sorted(sizes) == [0, 1, 2] and all(sizes.values()), sizes
    seen = []

    def on_batch(batch, batch_id):
        rows = batch.select(split.alias("s")).collect()
        seen.append((batch_id, sorted({r["s"] for r in rows}), len(rows)))

    n = jobs.replay_arrivals(spark, frame, "doc_id", "replay", 3,
                             str(tmp_path), on_batch)
    assert n == 3
    assert seen == [(i, [i], sizes[i]) for i in range(3)], seen
