"""Structured Streaming operators over the events stream.

The reference is strictly batch (SURVEY §2.10) — this module is the
forward-looking streaming surface a large-scale pipeline needs: tumbling
windows with watermarks for late data, and custom stateful sessionization
via ``applyInPandasWithState``.

Every transformation here is written against the unified DataFrame API, so
the same function works on a batch DataFrame (tests compare outputs 1:1
against the batch analogues q24/q25) and on a ``readStream`` DataFrame.

Scale notes: windowed counts shuffle once on (window, event_type) with
partial aggregation; sessionization shuffles once on user_id and keeps one
small state row per user — both shapes hold at 100 TB/day with state in
RocksDB (``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def read_events_stream(spark, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over an events parquet directory (the batch table's
    streaming twin). At scale this is Kafka/Kinesis — swap the source, keep
    every transformation below unchanged."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type.

    The streaming shape of q24: watermark bounds state for late data; on a
    batch DataFrame the watermark is a no-op and the result equals the batch
    ``date_trunc`` aggregation."""
    with_wm = (
        events.withWatermark("ts", watermark_delay)
        if events.isStreaming
        else events
    )
    return (
        with_wm.groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start_us", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


class _BatchNoState:
    """State shim for running a stateful kernel via plain ``applyInPandas``
    on a batch DataFrame (which has no state store): never exists, never
    times out, timeout registration is a no-op."""

    exists = False
    get = None
    hasTimedOut = False

    def update(self, _v) -> None:
        pass

    def remove(self) -> None:
        pass

    def getCurrentWatermarkMs(self) -> int:
        return 0

    def setTimeoutTimestamp(self, _ms: int) -> None:
        pass


def _empty_session_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series([], dtype="int64"),
            "session_id": pd.Series([], dtype="int64"),
            "n_events": pd.Series([], dtype="int64"),
        }
    )


def _sessionize_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state,
    gap_seconds: int,
) -> Iterator[pd.DataFrame]:
    """Per-user stateful kernel: continue the open session from state, split
    on inactivity gaps, emit every session touched in this batch (closed ones
    final; the still-open one carried in state and re-emitted when updated —
    standard update-mode semantics).

    ``session_id`` is the session's START time in epoch MICROSECONDS — not a
    per-user counter — so it stays globally unique per user across state
    eviction: when the event-time timeout fires (watermark passed
    ``last_ts + gap``) the state row is removed, and any event the watermark
    still admits has ``ts ≥ watermark > last_ts + gap``, i.e. it would have
    opened a NEW session even with the state present. Eviction therefore
    loses nothing but the dead state row."""
    (user_id,) = key
    if state.hasTimedOut:
        # the closed session was already emitted with its final count when
        # its last event arrived; only the state row is dropped here
        state.remove()
        yield _empty_session_pdf()
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = rows["ts"].astype("int64") // 1000  # ns → µs

    if state.exists:
        start_us, last_ts_us, n_events = state.get
    else:
        start_us, last_ts_us, n_events = None, None, 0

    gap_us = gap_seconds * 1_000_000
    touched: dict[int, int] = {}
    for t in ts_us:
        if last_ts_us is None or t - last_ts_us > gap_us:
            start_us, n_events = int(t), 0
        n_events += 1
        # session horizon is the MAX event time seen, never moved backward:
        # an in-watermark but out-of-order event (t < last_ts_us) joins the
        # open session without rewinding it — otherwise the event-time
        # timeout below would register at a stale last+gap and could evict
        # state while the session is still live, breaking the lossless-
        # eviction argument (watermark-admitted ts > TRUE max + gap is the
        # property that makes re-anchoring safe).
        # start_us is likewise never rewound (first-seen-start key): in
        # update mode a re-key would strand the session's earlier emission
        # under the old session_id — see sessionize_stream's docstring for
        # the contract and its bounded batch divergence.
        last_ts_us = max(last_ts_us, int(t)) if last_ts_us is not None else int(t)
        touched[start_us] = n_events

    state.update((start_us, last_ts_us, n_events))
    # expire this user's state once the watermark passes the inactivity
    # horizon — the timestamp must be strictly ahead of the current
    # watermark or Spark rejects it (a very late in-watermark batch can
    # otherwise compute last_ts + gap in the past)
    state.setTimeoutTimestamp(
        max(
            last_ts_us // 1000 + gap_seconds * 1000,
            state.getCurrentWatermarkMs() + 1,
        )
    )
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(touched),
            "session_id": list(touched.keys()),
            "n_events": list(touched.values()),
        }
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Custom stateful sessionization (30-min inactivity default).
    Output: (user_id, session_id, n_events) where ``session_id`` is the
    session's start time in epoch microseconds.

    Streaming: ``applyInPandasWithState`` with one state row per user and
    EVENT-TIME TIMEOUT — state expires once the watermark passes
    ``last_ts + gap``, so state size is bounded by the number of users
    active inside one (gap + watermark-delay) horizon, not by the stream's
    lifetime user count (``NoTimeout`` state grows forever on an unbounded
    stream). Re-anchoring after expiry is lossless: the watermark already
    guarantees any admissible event starts a new session.

    **Session-key semantics under late data (explicit streaming-vs-batch
    divergence, r08):** ``session_id`` is the FIRST-SEEN start — the
    earliest event time known when the session opened. A watermark-
    admitted out-of-order event that extends the open session BACKWARD
    (ts earlier than the current start) joins the session and bumps its
    count but does NOT rewind ``session_id``; a batch pass over the same
    data (``sessionize_batch`` / the q25 oracle) keys that session at its
    true min-ts instead. This is deliberate: the output is consumed in
    UPDATE mode as upserts keyed by (user_id, session_id), and re-keying
    an already-emitted session would strand the earlier emission as an
    uncorrectable phantom row under the old key (update mode has no
    retraction) — a self-inconsistent stream is strictly worse than a
    bounded, documented batch divergence. The divergence is bounded by
    the watermark delay (only events the watermark admits can backfill),
    hits only sessions whose first-arriving event was not their earliest,
    and affects the KEY, never the membership or count.
    ``tests/test_streaming.py::
    test_sessionize_backward_extension_keeps_first_seen_key`` locks it.

    Batch: the same kernel runs via ``applyInPandas`` (a batch DataFrame has
    no state store) with a no-state shim — identical outputs ON SORTED
    INPUT (one batch sorts each user's whole history, so first-seen ==
    min-ts and the divergence above vanishes; that is what makes the
    batch analogue — q25's lag+running-sum keyed on min-ts-per-session —
    a valid oracle for the kernel). The shim materializes one user's WHOLE history
    as a pandas group, which is exactly what makes it the right parity
    vehicle and the wrong production batch path — for large batch inputs
    use `sessionize_batch` (the window formulation: identical output,
    sort-spills instead of buffering the group).
    """
    from functools import partial

    if events.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return (
            events.withWatermark("ts", watermark_delay)
            .groupBy("user_id")
            .applyInPandasWithState(
                partial(_sessionize_group, gap_seconds=gap_seconds),
                outputStructType=_SESSION_OUTPUT_SCHEMA,
                stateStructType=_SESSION_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def _batch_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return next(_sessionize_group(key, [pdf], _BatchNoState(), gap_seconds))

    return events.select("user_id", "event_id", "ts").groupBy("user_id").applyInPandas(
        lambda key, pdf: _batch_fn(key, pdf), schema=_SESSION_OUTPUT_SCHEMA
    )


def sessionize_batch(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Batch sessionization with `sessionize_stream`'s OUTPUT CONTRACT
    ((user_id, session_id=start epoch µs, n_events)) in the
    spill-friendly window formulation: lag + running sum per user, then
    min-start per (user, session-counter). A window sort SPILLS a huge
    user to disk; the kernel's batch shim instead materializes the whole
    user as one in-memory pandas group — fine for parity tests, not for
    a dominant-key production batch. Bit-identical to the kernel shim on
    any input (events in a batch sort globally per user, so the kernel's
    max-horizon gap logic reduces to plain lag gaps — asserted in
    tests/test_streaming.py)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        us - F.lag(us).over(w) > gap_seconds * 1_000_000, F.lit(1)
    ).otherwise(F.lit(0))
    ctr = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.select("user_id", "event_id", "ts")
        .withColumn("__ctr", ctr)
        .groupBy("user_id", "__ctr")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("session_id"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_id", "n_events")
    )


def dedup_events_stream(
    events: DataFrame,
    key_cols: Iterable[str] = ("event_id",),
    watermark_delay: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once event dedup — the streaming twin of the batch J6/W3
    feature dedup (`plans/output.dedup_features`).

    Streaming: ``dropDuplicatesWithinWatermark`` keeps per-key state only
    until the watermark passes it, so state size is bounded by the delay
    window × arrival rate (plain ``dropDuplicates`` on a stream retains
    state forever — unusable at 100 TB/day). Batch: the same call reduces
    to ``dropDuplicates`` for 1:1 parity testing.
    """
    keys = list(key_cols)
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def enrich_events(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes (user tier, account metadata) to the event stream.

    The static side is BROADCAST — in streaming mode Spark re-plans the
    static relation per micro-batch (picking up dim updates between
    batches) and ships it to executors without shuffling the stream; the
    stream side needs no watermark because stream-static joins are
    stateless. Works identically on a batch DataFrame (unified API)."""
    return events.join(F.broadcast(dim), on, "left")


def enriched_windowed_value(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    group_col: str = "tier",
    window_duration: str = "1 day",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Windowed per-dimension-attribute aggregate over the enriched stream —
    the canonical "revenue per customer tier per hour" streaming shape:
    stateless broadcast join, then ONE stateful shuffle on
    (window, attribute) with partial aggregation."""
    joined = enrich_events(events, dim, on)
    with_wm = (
        joined.withWatermark("ts", watermark_delay) if joined.isStreaming else joined
    )
    return (
        with_wm.groupBy(F.window("ts", window_duration).alias("w"), group_col)
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), group_col, "n", "sum_value")
    )


_SPIKE_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("spike", BooleanType()),
    ]
)


def flag_spikes_stream(
    events: DataFrame,
    factor: float = 2.0,
    min_prev: int = 3,
) -> DataFrame:
    """Streaming anomaly flagging on the Spark 4 ``transformWithStateInPandas``
    API: per user, flag events whose value exceeds ``factor`` x the running
    mean of all earlier events; keyed ValueState carries (n, sum) across
    micro-batches (O(1) state per user — no event history retained).

    Batch-mode parity: ``operators.temporal.value_spikes`` computes the same
    flags with a window frame; the stream test asserts equality. Rows inside
    a micro-batch are processed in (ts, event_id) order.

    Requires the ``protobuf`` package (the transformWithState state-server
    protocol is protobuf-based); raises ImportError with guidance if absent —
    ``applyInPandasWithState`` (see sessionize_stream) has no such
    dependency and remains the fallback API."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "flag_spikes_stream needs the 'protobuf' package "
            "(transformWithStateInPandas state protocol); install protobuf "
            "or use the applyInPandasWithState-based operators instead"
        ) from exc
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _SpikeProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", StructType([StructField("n", LongType()), StructField("s", DoubleType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            if self._state.exists():
                n, s = self._state.get()
            else:
                n, s = 0, 0.0
            flags = []
            for v in pdf["value"]:
                # n > 0 guard matches the batch twin: a NULL running mean
                # (no predecessors) never flags, even with min_prev=0
                flags.append(bool(n > 0 and n >= min_prev and v > factor * (s / n)))
                n += 1
                s += float(v)
            self._state.update((n, s))
            out = pdf.assign(spike=flags)[["event_id", "user_id", "spike"]]
            yield out

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_SpikeProcessor(),
        outputStructType=_SPIKE_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def join_conversions(
    clicks: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "3 days",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream attribution join: every (purchase, prior click) pair of
    the same user within the attribution window.

    Streaming shape: BOTH sides carry watermarks and the join condition
    time-bounds the click relative to the purchase, so Spark can expire
    buffered state — click state is held for attribution_window +
    watermark_delay, purchase state for watermark_delay; without the time
    bound a stream-stream inner join would buffer forever. One shuffle on
    user_id for each side. Works identically on batch DataFrames (the
    watermarks are skipped — batch joins need no state bound)."""
    if clicks.isStreaming:
        clicks = clicks.withWatermark("ts", watermark_delay)
    if purchases.isStreaming:
        purchases = purchases.withWatermark("ts", watermark_delay)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"), "value",
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")),
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts", "value")


def write_events_stream(
    events: DataFrame,
    path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming parquet sink: the checkpoint records source
    offsets + sink epoch, so a crashed/restarted query resumes without
    duplicating rows (restart with the same checkpoint after completion is
    a no-op). Returns the StreamingQuery; await it with
    ``q.awaitTermination()``.

    This is the native-sink path; for GeoParquet parts with the ``geo``
    footer wrap the batch write in ``foreachBatch`` with
    ``sinks.geoparquet`` instead — same checkpoint semantics, custom
    writer."""
    writer = (
        events.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Gap-based session aggregation with Spark's NATIVE ``session_window``
    (merging-window state store) — the built-in counterpart to the custom
    ``sessionize_stream`` processor: sessions close when a key is silent
    for ``gap``; watermark expires session state.

    On a batch frame the same expression computes identical sessions (the
    batch/stream parity test pins this), so one definition serves both the
    backfill and the live pipeline. Returns (user_id, session_start,
    session_end, n_events, sum_value)."""
    with_wm = (
        events.withWatermark("ts", watermark_delay)
        if events.isStreaming
        else events
    )
    return (
        with_wm.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_NEARDUP_OUTPUT_SCHEMA = (
    "doc_a LONG, doc_b LONG, band INT"
)
_NEARDUP_STATE_SCHEMA = "anchor LONG"


def _band_anchor_group(key, pdfs, state, ttl_seconds: int):
    """Per-band-bucket stateful kernel: the FIRST doc ever seen in this
    LSH bucket becomes its anchor (carried in state); every later doc
    emits a (anchor, doc, band) candidate pair. Within a batch, rows are
    processed in (ts, doc_id) order so the anchor choice is deterministic
    regardless of arrival partitioning.

    Anchor state expires via EVENT-TIME TIMEOUT once the watermark passes
    ``last_seen + ttl`` — on an unbounded stream the number of non-empty
    buckets grows without bound, and ``NoTimeout`` state with it.
    Re-anchoring after expiry is safe under the candidates-as-evidence
    contract: a band collision is EVIDENCE verified exactly downstream,
    so an evicted anchor only means near-dups straddling more than the
    TTL window are caught by the batch backfill instead of the stream."""
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(
            {
                "doc_a": pd.Series([], dtype="int64"),
                "doc_b": pd.Series([], dtype="int64"),
                "band": pd.Series([], dtype="int64"),
            }
        )
        return
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "doc_id"], kind="mergesort")
    if state.exists:
        (anchor,) = state.get
    else:
        anchor = None
    out_a, out_b, out_band = [], [], []
    for doc_id, band in zip(rows["doc_id"], rows["band"]):
        if anchor is None:
            anchor = int(doc_id)
        elif int(doc_id) != anchor:
            out_a.append(anchor)
            out_b.append(int(doc_id))
            out_band.append(int(band))
    state.update((anchor,))
    last_ms = int(rows["ts"].astype("int64").max()) // 1_000_000  # ns → ms
    state.setTimeoutTimestamp(
        max(last_ms + ttl_seconds * 1000, state.getCurrentWatermarkMs() + 1)
    )
    yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b, "band": out_band})


def neardup_candidates_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 5,
    anchor_ttl_seconds: int = 86400,
) -> DataFrame:
    """STREAMING near-duplicate candidate detection — the streaming twin
    of the batch MinHash-LSH pipeline (q18): each arriving doc is hashed
    into its LSH band buckets map-side (the same
    `minhash_signature_col`/`minhash_band_array` Columns as batch), and a
    per-bucket anchor is kept in state; a doc landing in a bucket that
    already has an anchor emits a (anchor, doc, band) candidate pair.

    Exactly like the batch design, a band collision is EVIDENCE, not a
    verdict — downstream verifies candidates exactly (e.g. in a
    foreachBatch against the stored corpus) before dropping anything.

    State: ONE bigint per non-empty bucket (not per doc), the minimum
    possible for anchor-based detection — and it EXPIRES: event-time
    timeout drops a bucket's anchor once the watermark passes its last
    activity plus ``anchor_ttl_seconds`` (default 24 h), so state is
    bounded by the buckets active in one TTL window, not the stream's
    lifetime bucket count. Batch: the same kernel runs via
    ``applyInPandas`` (no state) so the batch analogue — min-(ts, id)
    anchor per bucket joined back — oracles the streaming kernel."""
    from quackosm_spark.operators.dedup import (
        _q,
        minhash_band_array,
        minhash_signature_col,
    )

    sig = minhash_signature_col(_q(text_col), num_hashes, shingle)
    banded = docs.select(
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            minhash_band_array(sig, num_hashes, bands)
        ).alias("band", "band_key"),
    )
    from functools import partial

    kernel = partial(_band_anchor_group, ttl_seconds=anchor_ttl_seconds)
    if docs.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return (
            banded.withWatermark("ts", watermark_delay)
            .groupBy("band_key")
            .applyInPandasWithState(
                kernel,
                outputStructType=_NEARDUP_OUTPUT_SCHEMA,
                stateStructType=_NEARDUP_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    return banded.groupBy("band_key").applyInPandas(
        lambda key, pdf: next(kernel(key, [pdf], _BatchNoState())),
        schema=_NEARDUP_OUTPUT_SCHEMA,
    )


_ZSCORE_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("base_n", LongType()),
        StructField("z", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)

def _zscore_state_schema():
    from pyspark.sql.types import ArrayType

    return StructType(
        [
            StructField("vals", ArrayType(DoubleType())),
            StructField("last_ts_us", LongType()),
        ]
    )


def _empty_zscore_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_id": pd.Series([], dtype="int64"),
            "user_id": pd.Series([], dtype="int64"),
            "base_n": pd.Series([], dtype="int64"),
            "z": pd.Series([], dtype="float64"),
            "is_anomaly": pd.Series([], dtype="bool"),
        }
    )


def _zscore_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state,
    window: int,
    threshold: float,
    min_periods: int,
    ttl_seconds: int,
) -> Iterator[pd.DataFrame]:
    """Per-user stateful kernel: standardize each event against the mean /
    sample-stddev of the user's previous ``window`` values (strictly
    earlier), carrying the bounded value tail in state — O(window) doubles
    per user. Rows inside a batch process in (ts, event_id) order; an
    out-of-order event ACROSS micro-batches standardizes against the
    state as-of arrival (the sessionize first-seen divergence class).
    State expires once the watermark passes ``last_ts + ttl`` — an idle
    user's baseline is forgotten and rebuilds cold on return (base_n
    restarts at 0), which bounds state by ACTIVE users, not lifetime
    users."""
    import math

    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        yield _empty_zscore_pdf()
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = rows["ts"].astype("int64") // 1000

    if state.exists:
        vals, last_ts_us = state.get
        tail = list(vals)
    else:
        tail, last_ts_us = [], None

    ns, zs, flags = [], [], []
    for v in rows["value"]:
        # NULL/NaN values match the batch ROWS-frame contract exactly:
        # the row occupies a positional frame slot (it displaces an older
        # value, so it stays in the tail as a NaN placeholder) but is
        # EXCLUDED from count/avg/stddev — Spark's frame aggregates
        # ignore NULLs — and its own z is NULL / never flagged.
        fv = math.nan if pd.isna(v) else float(v)
        frame = tail[-window:]
        finite = [x for x in frame if math.isfinite(x)]
        n = len(finite)
        ns.append(n)
        z = None
        if math.isfinite(fv) and n >= min_periods and n >= 2:
            m = sum(finite) / n
            sd = math.sqrt(sum((x - m) ** 2 for x in finite) / (n - 1))
            if sd >= 1e-9:
                z = (fv - m) / sd
        zs.append(round(z, 4) + 0.0 if z is not None else None)
        flags.append(bool(z is not None and abs(z) > threshold))
        tail.append(fv)
        if len(tail) > window:
            tail = tail[-window:]

    if len(ts_us):
        t_max = int(ts_us.max())
        last_ts_us = t_max if last_ts_us is None else max(last_ts_us, t_max)
    state.update((tail, last_ts_us))
    state.setTimeoutTimestamp(
        max(
            (last_ts_us or 0) // 1000 + ttl_seconds * 1000,
            state.getCurrentWatermarkMs() + 1,
        )
    )
    yield pd.DataFrame(
        {
            "event_id": rows["event_id"].to_numpy(),
            "user_id": [user_id] * len(rows),
            "base_n": ns,
            "z": pd.array(zs, dtype="Float64"),
            "is_anomaly": flags,
        }
    )


def zscore_stream(
    events: DataFrame,
    window: int = 20,
    threshold: float = 3.0,
    min_periods: int = 5,
    watermark_delay: str = "1 hour",
    state_ttl_seconds: int = 86400,
) -> DataFrame:
    """Streaming twin of ``operators.temporal.rolling_zscore``: per user,
    flag events whose value deviates more than ``threshold`` sample
    standard deviations from the trailing ``window``-value baseline
    (strictly earlier values only). ``applyInPandasWithState`` with a
    bounded per-user value tail and EVENT-TIME TIMEOUT (state expires
    ``state_ttl_seconds`` after the user's last event passes the
    watermark — see `_zscore_group` for the cold-restart contract).

    Batch parity: on a batch DataFrame the SAME kernel runs via
    ``applyInPandas`` with the no-state shim, and matches the
    window-frame formulation (`temporal.rolling_zscore`) row-for-row on
    (base_n, z, is_anomaly) — the stream=batch parity test and the
    contract oracle both pin it. z rounds at 4 decimals with −0.0
    normalized (the batch operator's display contract); the flag
    compares the raw z.
    """
    from functools import partial

    kernel = partial(
        _zscore_group,
        window=window,
        threshold=threshold,
        min_periods=min_periods,
        ttl_seconds=state_ttl_seconds,
    )
    if events.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return (
            events.withWatermark("ts", watermark_delay)
            .groupBy("user_id")
            .applyInPandasWithState(
                kernel,
                outputStructType=_ZSCORE_OUTPUT_SCHEMA,
                stateStructType=_zscore_state_schema(),
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def _batch_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return next(kernel(key, [pdf], _BatchNoState()))

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(_batch_fn, schema=_ZSCORE_OUTPUT_SCHEMA)
    )


def _decay_output_schema() -> StructType:
    # NTZ, matching the events table's ts column: a zoned TimestampType
    # here would re-interpret the kernel's naive pandas datetimes in the
    # session timezone and shift last_ts on non-UTC sessions.
    from pyspark.sql.types import TimestampNTZType

    return StructType(
        [
            StructField("user_id", LongType()),
            StructField("decayed_score", DoubleType()),
            StructField("n_events", LongType()),
            StructField("last_ts", TimestampNTZType()),
        ]
    )

_DECAY_STATE_SCHEMA = StructType(
    [
        StructField("score", DoubleType()),
        StructField("n_events", LongType()),
        StructField("anchor_us", LongType()),
        StructField("n_contrib", LongType()),
    ]
)

# anchor sentinel for "no valid timestamp seen yet" — the state store's
# LongType can't hold None, and any real µs epoch (including negative,
# pre-1970) is a legal anchor, so use LONG_MIN
_DECAY_NO_ANCHOR = -(2**63)


def _empty_decay_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series([], dtype="int64"),
            "decayed_score": pd.Series([], dtype="float64"),
            "n_events": pd.Series([], dtype="int64"),
            "last_ts": pd.Series([], dtype="datetime64[us]"),
        }
    )


def _decay_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state,
    half_life_days: float,
    use_value: bool,
    ttl_seconds: int,
) -> Iterator[pd.DataFrame]:
    """Per-key exponentially-decayed counter kernel. State is ONE
    (score, n, anchor) triple per key — the score is always expressed
    at the key's max-seen event time (the anchor), so an out-of-order
    event at ``ts < anchor`` contributes ``v·0.5^((anchor−ts)/h)``
    WITHOUT re-anchoring, and a newer event first decays the whole
    score forward: ``score·0.5^(Δ/h) + v``. The final per-key score is
    algebraically Σ v·0.5^((key_max−ts)/h) — identical to
    `temporal.time_decay_scores(anchor='key_max')` up to fp
    associativity, inside the 6-dp display rounding (parity
    test-locked). State expires ``ttl`` after the anchor passes the
    watermark — idle keys stop costing memory and restart cold.

    NULL handling mirrors the batch twin row-for-row (ADVICE r9 medium —
    the old kernel let a NULL value become float NaN and permanently
    poison the key's score, and raised on a NaT timestamp):

    - NULL/NaN value, valid ts: counts in ``n_events`` (batch
      ``F.count(lit(1))``), contributes 0 to the score (batch ``F.sum``
      skips NULL weights), and still advances the anchor/last_ts (batch
      ``max(ts)`` sees the row). Spark NULL doubles arrive in pandas as
      float64 NaN, so NULL and literal NaN are indistinguishable here —
      both are skipped; the batch twin propagates a literal NaN into the
      sum, the one knowingly-unmirrorable case (Arrow erases the
      distinction). ±inf IS distinguishable and propagates like batch.
    - NaT timestamp: counts in ``n_events``, touches nothing else (batch:
      NULL age → NULL weight → skipped by sum; max(ts) ignores NULL).
    - a key that has only ever seen NaT timestamps has no anchor: it
      emits (NULL score, n, NULL last_ts) exactly like the batch twin's
      all-NULL-weight group, and times out ttl past the current watermark.
    - a key whose every valid-ts row had a NULL value emits score NULL
      (batch sum over zero non-NULL weights is NULL), tracked in state by
      an ``n_contrib`` count.
    """
    import math

    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        yield _empty_decay_pdf()
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    valid = rows[rows["ts"].notna()]
    n_nat = len(rows) - len(valid)
    valid = valid.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = valid["ts"].astype("int64") // 1000
    half_us = half_life_days * 86400.0 * 1e6

    if state.exists:
        score, n, anchor_us, n_contrib = state.get
    else:
        score, n, anchor_us, n_contrib = 0.0, 0, None, 0
    if anchor_us is not None and anchor_us == _DECAY_NO_ANCHOR:
        anchor_us = None

    vals = valid["value"] if use_value else None
    for i, t in enumerate(ts_us.to_numpy()):
        if use_value:
            v = float(vals.iloc[i])
            if math.isnan(v):  # Spark NULL (or literal NaN) over Arrow
                v = 0.0
            else:
                n_contrib += 1
        else:
            v, n_contrib = 1.0, n_contrib + 1
        t = int(t)
        if anchor_us is None:
            score, anchor_us = v, t
        elif t >= anchor_us:
            score = score * math.pow(0.5, (t - anchor_us) / half_us) + v
            anchor_us = t
        else:
            score = score + v * math.pow(0.5, (anchor_us - t) / half_us)
        n += 1
    n += n_nat

    state.update(
        (
            float(score),
            int(n),
            _DECAY_NO_ANCHOR if anchor_us is None else int(anchor_us),
            int(n_contrib),
        )
    )
    state.setTimeoutTimestamp(
        max(
            (
                state.getCurrentWatermarkMs()
                if anchor_us is None
                else anchor_us // 1000
            )
            + ttl_seconds * 1000,
            state.getCurrentWatermarkMs() + 1,
        )
    )
    yield pd.DataFrame(
        {
            # plain list, not a forced int64 Series: a NULL group key is a
            # legal pandas group and must emit (the zscore kernel idiom)
            "user_id": [user_id],
            # nullable Float64: NULL score (no contributions yet) must
            # reach Spark as NULL, not NaN — plain float64 can't hold one
            "decayed_score": pd.array(
                [round(score, 6) if n_contrib > 0 else None], dtype="Float64"
            ),
            "n_events": pd.Series([n], dtype="int64"),
            "last_ts": pd.to_datetime(
                [anchor_us if anchor_us is not None else None], unit="us"
            ),
        }
    )


def decay_counter_stream(
    events: DataFrame,
    half_life_days: float = 7.0,
    value_col: str | None = None,
    watermark_delay: str = "1 hour",
    state_ttl_seconds: int = 86400,
) -> DataFrame:
    """Streaming twin of ``temporal.time_decay_scores(anchor='key_max')``:
    maintain per-key exponentially-decayed activity counters (trending
    scores, freshness-weighted rate limits) with ONE (score, n, anchor,
    n_contrib) state row per key — no event history retained, so state is
    O(active keys) regardless of stream length. Emits the updated (user_id,
    decayed_score, n_events, last_ts) row per touched key per
    micro-batch (update mode — downstream upserts by user_id).

    Batch parity: on a batch DataFrame the SAME kernel runs via
    ``applyInPandas`` and the FINAL scores equal the batch operator's
    key_max-anchored output row-for-row at the shared 6-dp rounding
    (test-locked; fp associativity of incremental decay-multiply vs
    batch pow-sum differs at ~1e-13 relative, far below the display
    contract).

    .. note:: **Checkpoint compatibility.** The per-key state row gained
       a 4th field (``n_contrib``) in r10 for NULL-value parity. Spark's
       state store validates the stored state schema on restart, so a
       checkpoint written by the earlier 3-field kernel CANNOT be resumed
       by this version (the query fails at restore, before the kernel
       runs — there is no in-kernel migration path). Upgrading an
       existing streaming query requires a fresh checkpoint directory
       (state rebuilds from the source within the watermark horizon).
    """
    from functools import partial

    if half_life_days <= 0:
        raise ValueError("decay_counter_stream: half_life_days must be > 0")
    use_value = value_col is not None
    cols = ["user_id", "event_id", "ts"] + (["value"] if use_value else [])
    if use_value and value_col != "value":
        events = events.withColumn("value", F.col(value_col))
    kernel = partial(
        _decay_group,
        half_life_days=half_life_days,
        use_value=use_value,
        ttl_seconds=state_ttl_seconds,
    )
    if events.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return (
            events.withWatermark("ts", watermark_delay)
            .groupBy("user_id")
            .applyInPandasWithState(
                kernel,
                outputStructType=_decay_output_schema(),
                stateStructType=_DECAY_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def _batch_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return next(kernel(key, [pdf], _BatchNoState()))

    return (
        events.select(*cols)
        .groupBy("user_id")
        .applyInPandas(_batch_fn, schema=_decay_output_schema())
    )


def _domain_cap_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state,
    max_per_domain: int,
) -> Iterator[pd.DataFrame]:
    """Per-domain FIRST-ARRIVAL cap kernel: state is one running count
    per registered domain; docs beyond the cap are dropped. Within a
    micro-batch, arrival order is pinned to ascending doc_id (the
    deterministic stand-in for fetch order), so the stream twin equals
    the batch analogue row-for-row."""
    (domain,) = key
    if state.hasTimedOut:  # pragma: no cover - no timeout configured
        state.remove()
        return
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values("doc_id", kind="mergesort")
    n = state.get[0] if state.exists else 0
    take = max(0, max_per_domain - n)
    # reset_index: the sorted slice keeps pre-sort indices, and building
    # the output frame from index-carrying Series would align-by-index
    # against the fresh RangeIndex (NaN-corrupting rows)
    kept = rows.iloc[:take].reset_index(drop=True)
    state.update((int(n + len(kept)),))
    yield pd.DataFrame(
        {
            "doc_id": kept["doc_id"].astype("int64"),
            "url": kept["url"].astype(object),
            "domain": pd.Series([domain] * len(kept), dtype=object),
        }
    )


def domain_cap_stream(
    docs: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming domain cap — the crawl-frontier politeness/anti-top-
    heaviness rule applied AS THE CRAWL ARRIVES: keep the first
    ``max_per_domain`` documents per registered domain, drop the rest,
    with ONE integer of state per domain (O(domains) state regardless of
    stream length; no timeout — a domain's budget is permanent for the
    run, restart the query to reset epochs).

    FIRST-ARRIVAL semantics on purpose: the batch `mix.cap_per_domain`
    md5 keep-rule needs the whole corpus to be samplable, which a stream
    never is — a crawler keeps what it fetched first. Arrival order is
    pinned to ascending ``id_col`` within a micro-batch, so on a batch
    frame the SAME kernel equals the window analogue
    ``row_number() over (partition by domain order by doc_id) <= cap``
    row-for-row (parity test-locked; q150 oracles the batch mode).

    Returns (doc_id, url, domain) for kept docs (append mode — a kept
    doc is final the moment it's emitted).

    NULL handling DIVERGES from the batch twin on purpose: docs whose
    url is NULL (or yields no registered domain) are DROPPED here —
    there is no domain key to hold state under — while batch
    `mix.cap_per_domain` passes NULL-url rows through UNCAPPED. Pipeline
    authors who need the batch behavior should filter NULL-url docs out
    upstream and route them around the stream (e.g. union them back in
    the sink).
    """
    from functools import partial

    if max_per_domain < 1:
        raise ValueError("domain_cap_stream: max_per_domain must be >= 1")
    from quackosm_spark.operators.dedup import registered_domain

    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(url_col).alias("url"),
        registered_domain(F.col(url_col)).alias("domain"),
    ).where(F.col("domain").isNotNull())
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("url", StringType()),
            StructField("domain", StringType()),
        ]
    )
    state_schema = StructType([StructField("n_kept", LongType())])
    kernel = partial(_domain_cap_group, max_per_domain=max_per_domain)
    if docs.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return d.groupBy("domain").applyInPandasWithState(
            kernel,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def _batch_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return next(kernel(key, [pdf], _BatchNoState()))

    return d.groupBy("domain").applyInPandas(_batch_fn, schema=out_schema)
