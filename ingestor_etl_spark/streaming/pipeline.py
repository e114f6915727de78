"""Streaming pcap pipeline (SURVEY §2.9, R1/R2/J1 streaming forms).

The reference is batch-per-file, driven by a queue table; its
dict-based reassembly/correlation state is file-scoped and flushed
at EOF (diameter.py:580-589). The streaming engine maps this to:

- file-source ``readStream`` over a capture drop directory (the
  queue table's role is played by the checkpoint + ledger),
- ``applyInPandasWithState`` keyed exactly like the batch groupBy
  (stream 5-tuple for reassembly, txn 4-tuple for correlation),
- state **timeouts** as the EOF-flush analogue: when a key sees no
  traffic for the timeout, pending bytes / unmatched requests are
  emitted with ``matched = false``,
- ``foreachBatch`` sinks + ledger append (S10) for exactly-once
  bookkeeping.

Scale: state lives in the state store (RocksDB on a real cluster),
partitioned by key hash — the same partitioning the batch shuffle
uses, but bounded by the timeout instead of file EOF.

Topology note: Spark allows at most ONE applyInPandasWithState per
streaming query, so decode (R1/R2 state) and correlation (J1 state)
run as two chained queries with an intermediate parquet/Delta stage
— which is also the operationally sane layout: the decoded message
log is replayable and each stage checkpoints independently."""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestor_etl_spark.protocols.diameter import (
    MESSAGE_SCHEMA,
    STREAM_KEY,
    diameter_streams,
    drop_watchdogs,
    stitch,
)
from ingestor_etl_spark.sources.pcap import parse_captures

_COLS = [f.name for f in MESSAGE_SCHEMA.fields]
_MAX_FILES_PER_TRIGGER = 16  # capture files per micro-batch


def stream_frames(spark: SparkSession, path: str) -> DataFrame:
    """S2/S3 as a stream: new capture files appearing under ``path``
    become frame rows through the batch parse (``read_pcap``'s
    ``parse_captures``). One file = one task, same as batch."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("maxFilesPerTrigger", str(_MAX_FILES_PER_TRIGGER))
        .load(path)
    )
    return parse_captures(files)


_STITCH_STATE = StructType(
    [
        StructField("pending", BinaryType()),
        StructField("pending_frames", StringType()),  # csv of frame numbers
    ]
)


def stream_decode_diameter(segments: DataFrame, timeout_ms: int = 60_000) -> DataFrame:
    """R1/R2 as keyed streaming state: the batch port/flag filter,
    stream key and stitch walk, with each key's pending bytes/frames
    carried across micro-batches in the state store; a
    processing-time timeout discards stale partial buffers (the
    reference's implicit EOF flush)."""

    def stitch_with_state(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        pending, frames_csv = state.get if state.exists else (b"", "")
        pending = bytes(pending or b"")
        frames = [int(x) for x in frames_csv.split(",") if x]
        rows: list[tuple] = []
        # applyInPandasWithState may deliver one key's rows as several
        # Arrow batches; concatenate and sort ONCE so the walk sees a
        # frame-ordered stream, as in batch.
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("frame_no")
            rows, pending, frames = stitch(
                key[0], key[1], key[2],
                zip(pdf["frame_no"], pdf["ts_us"], pdf["payload"]),
                pending, frames,
            )
        state.update((pending, ",".join(str(f) for f in frames)))
        state.setTimeoutDuration(timeout_ms)
        if rows:
            yield pd.DataFrame(rows, columns=_COLS)

    out = (
        diameter_streams(segments)
        .groupBy(*STREAM_KEY)
        .applyInPandasWithState(
            stitch_with_state,
            MESSAGE_SCHEMA,
            _STITCH_STATE,
            "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    return drop_watchdogs(out).withColumn("ts", F.timestamp_micros("ts_us"))


_PAIR_SCHEMA = StructType(
    [
        StructField("command_code", LongType()),
        StructField("hop_by_hop_id", LongType()),
        StructField("end_to_end_id", LongType()),
        StructField("session_id", StringType()),
        StructField("msisdn", StringType()),
        StructField("imsi", StringType()),
        StructField("result_code", LongType()),
        StructField("matched", StringType()),  # matched | request_only | response_only
    ]
)
_CORR_STATE = StructType(
    [
        StructField("req_msisdn", StringType()),
        StructField("req_imsi", StringType()),
        StructField("have_req", StringType()),
    ]
)


def stream_correlate_diameter(messages: DataFrame, timeout_ms: int = 300_000) -> DataFrame:
    """J1 streaming: requests park in keyed state; the answer joins
    them (bidirectional msisdn/imsi coalesce) and emits the pair.
    Timed-out keys emit ``request_only`` — the EOF leftover census
    (diameter.py:469-478, 580-589)."""
    key_cols = ["command_code", "hop_by_hop_id", "end_to_end_id", "session_id"]

    def correlate(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cmd, hbh, e2e, sess = key
        if state.hasTimedOut:
            req_msisdn, req_imsi, _ = state.get
            state.remove()
            yield pd.DataFrame(
                [(cmd, hbh, e2e, sess, req_msisdn, req_imsi, None, "request_only")],
                columns=[f.name for f in _PAIR_SCHEMA.fields],
            )
            return
        req_msisdn = req_imsi = None
        have_req = ""
        if state.exists:
            req_msisdn, req_imsi, have_req = state.get
        rows = []
        for pdf in pdfs:
            for _, r in pdf.sort_values("ts_us").iterrows():
                if r["request"]:
                    if not have_req:  # duplicate request = retransmission, dropped
                        have_req = "y"
                        req_msisdn, req_imsi = r["msisdn"], r["imsi"]
                else:
                    rows.append(
                        (
                            cmd, hbh, e2e, sess,
                            req_msisdn if req_msisdn is not None else r["msisdn"],
                            req_imsi if req_imsi is not None else r["imsi"],
                            r["result_code"],
                            "matched" if have_req else "response_only",
                        )
                    )
                    have_req = ""
                    req_msisdn = req_imsi = None
        if have_req:
            state.update((req_msisdn, req_imsi, have_req))
            state.setTimeoutDuration(timeout_ms)
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in _PAIR_SCHEMA.fields])

    src = messages.select(
        *key_cols, "request", F.unix_micros("ts").alias("ts_us"),
        "msisdn", "imsi", "result_code",
    )
    return src.groupBy(*key_cols).applyInPandasWithState(
        correlate,
        _PAIR_SCHEMA,
        _CORR_STATE,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def write_stream_with_ledger(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    ledger_path: str | None = None,
    trigger_available_now: bool = True,
):
    """foreachBatch sink: append batch output as parquet + one
    ledger row per source file (S10). Returns the query handle."""
    from ingestor_etl_spark.sinks.ledger import file_counters, ledger_rows

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            batch.write.mode("append").parquet(out_path)
            if ledger_path and "file" in batch.columns:
                ledger_rows(file_counters(batch)).write.mode("append").parquet(ledger_path)
        finally:
            batch.unpersist()

    writer = df.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Late/duplicate-frame handling (§2.9): event-time watermark +
    dropDuplicatesWithinWatermark on the retransmission key — the
    streaming form of O3's dropDuplicates with bounded state."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time session windows over a stream — the streaming
    counterpart of operators.sessionize (J6's gap semantics) using
    the built-in session_window aggregation + watermark for late
    data."""
    with_wm = events.withWatermark(ts_col, f"{gap_seconds * 2} seconds")
    return with_wm.groupBy(
        F.col(user_col),
        F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("session"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    )


def stream_windowed_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "1 hour",
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation (§2.9):
    counts + value stats per (key, window). Append mode emits a
    window only once the watermark passes its end — the streaming
    form of the batch hourly rollup, with late rows folded in until
    the watermark closes the window and dropped after (bounded
    state; no unbounded per-key dicts as in the reference)."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    keys = [F.col(c) for c in (key_cols or [])]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys, win.alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *[F.col(c) for c in (key_cols or [])],
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
        )
    )


def stream_neardup_dedup(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming near-dup suppression: the batch MinHash signature
    (queries/dedup_ops) computed natively per arriving document, then
    ``dropDuplicatesWithinWatermark`` on the full signature — the
    first document of each near-dup family within the watermark
    window wins, with state bounded by the watermark exactly like
    the O3 retransmission dedup. Requires columns (text, ts).

    Signature-level matching keeps only high-probability near-dups
    (all 6 minhashes equal); bucket-recall tuning (match ANY band)
    belongs in the batch LSH pass — streams suppress, batch
    consolidates."""
    from ingestor_etl_spark.queries.dedup_ops import (
        _SPARK_SHINGLES,
        _spark_minhash,
        SALTS,
    )

    sig = docs.selectExpr(
        "*", f"{_SPARK_SHINGLES} AS shingles"
    ).selectExpr(
        "*",
        "concat_ws(':', "
        + ", ".join(_spark_minhash(s) for s in SALTS)
        + ") AS minhash_sig",
    ).drop("shingles")
    return sig.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["minhash_sig"]
    )


def stream_zscore_outliers(
    events: DataFrame,
    window: int = 20,
    min_n: int = 10,
    sigma: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming counterpart of the batch rolling_zscore_outliers
    query (§2.9 keyed-state surface): per-key trailing-{window}
    z-score anomaly flags with the SAME all-integer decision rule —
    cents become BIGINT, and |z| > sigma is evaluated as
    (c·n − S)² > sigma²·(n·Q − S²), so batch and stream can never
    disagree on a flag due to float rounding.

    State per key is the trailing cents ring (≤ {window} longs —
    constant, the streaming analogue of the batch window frame);
    rows are ordered (ts, event_id) within each delivered group, so
    with in-order delivery (availableNow over time-ordered files,
    or an upstream watermark+sort) the emitted flags equal the batch
    operator's. applyInPandasWithState because the decision needs
    the raw trailing VALUES (a windowed agg can't carry them)."""
    import math as _math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = ["event_id", "user_id", "cents", "n_window", "z"]

    def score(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        hist: list[int] = list(state.get[0]) if state.exists else []
        parts = [p for p in pdfs if len(p)]
        out: list[tuple] = []
        if parts:
            rows = pd.concat(parts).sort_values(["ts", "event_id"])
            for r in rows.itertuples():
                c = int(round(r.value * 100))
                hist.append(c)
                if len(hist) > window:
                    hist.pop(0)
                n = len(hist)
                s = sum(hist)
                q = sum(x * x for x in hist)
                var_scaled = n * q - s * s
                dev = c * n - s
                if (
                    n >= min_n
                    and var_scaled > 0
                    and dev * dev > sigma * sigma * var_scaled
                ):
                    out.append(
                        (
                            int(r.event_id),
                            int(key[0]),
                            c,
                            n,
                            round(dev / _math.sqrt(var_scaled), 4),
                        )
                    )
            state.update((hist,))
        yield pd.DataFrame(out, columns=out_cols)

    return events.groupBy(user_col).applyInPandasWithState(
        score,
        "event_id long, user_id long, cents long, n_window long, z double",
        "cents array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_cms_cells(
    docs: DataFrame,
    depth: int = 3,
    width: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Streaming count-min sketch: the SAME (row, bucket) cell
    aggregation as the batch cms_heavy_hitters query, run as a
    streaming groupBy in complete mode — legitimate precisely
    because the state is the sketch itself: depth×width cells
    (192 rows) regardless of stream volume, the bounded-state
    property that makes CMS the streaming heavy-hitter structure.
    Cells use the identical md5 bucket hash, so a snapshot of this
    stream's output equals the batch sketch over the same prefix
    (asserted in tests)."""
    toks = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r" +")).alias("w")
    )
    hashed = toks.select(
        "w",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).select(
        "j",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("w"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % width
        ).alias("bucket"),
    )
    return hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lookahead: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Native watermarked stream-stream interval join — the J1
    request/response correlation expressed with Spark's built-in
    join-state machinery instead of applyInPandasWithState
    (stream_correlate_diameter is the custom-state form; this is
    the declarative one). A left row joins right rows of the same
    key whose event time lands in [left.ts, left.ts + lookahead].

    State boundedness comes from the two watermarks PLUS the
    interval condition: Spark derives each side's state-eviction
    watermark from the time-range predicate, so buffered rows are
    dropped as soon as the other side's watermark passes their
    join window — no unbounded buffering, the precondition for
    running this on an infinite stream (a bare equi-join of two
    streams without a time bound is rejected by Spark for append
    mode precisely because its state never drains)."""
    lw = left.withWatermark(ts_col, watermark).alias("l")
    rw = right.withWatermark(ts_col, watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{ts_col} >= l.{ts_col} "
        f"AND r.{ts_col} <= l.{ts_col} + interval {lookahead}"
    )
    return lw.join(rw, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{ts_col}").alias("left_ts"),
        F.col(f"r.{ts_col}").alias("right_ts"),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
    )


_FUNNEL_STAGES = ("view", "click", "purchase")
_FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage_no", IntegerType()),
        StructField("stage", StringType()),
        StructField("ts_us", LongType()),
    ]
)
_FUNNEL_STATE = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
    ]
)


def stream_funnel(events: DataFrame, timeout_ms: int = 86_400_000) -> DataFrame:
    """Streaming ordered-funnel tracking (the §2.9 stateful form of
    queries/events_ops.funnel_conversion): per-user keyed state
    holds the entry time of each reached stage; a stage advances
    only on an event STRICTLY AFTER the previous stage's entry, and
    each advancement emits one (user, stage, ts) row. State is three
    longs per user, and BOUNDED BY ACTIVE USERS: a user idle past
    ``timeout_ms`` (default 24 h — the funnel attribution window) is
    evicted silently, so total state is 3 longs × users-active-
    within-window, never all users ever seen. A user returning after
    eviction restarts at stage 1 (idempotent consumers key on
    (user, stage), as the recovery test does).

    Ordering contract: stage entries are computed incrementally, so
    per-user event-time order across micro-batches is assumed
    (the standard streaming-funnel simplification — a late 'view'
    older than the recorded stage-1 time would need retraction,
    which batch funnel_conversion handles exactly). Requires columns
    (user_id, event_type, ts)."""
    import pandas as pd

    def track(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        t1 = t2 = t3 = None
        if state.exists:
            t1, t2, t3 = state.get
        rows = []
        evs = []
        for pdf in pdfs:
            evs.extend(zip(pdf["ts_us"], pdf["event_type"]))
        for ts, typ in sorted(evs):
            if t1 is None:
                if typ == _FUNNEL_STAGES[0]:
                    t1 = int(ts)
                    rows.append((user_id, 1, _FUNNEL_STAGES[0], t1))
            elif t2 is None:
                if typ == _FUNNEL_STAGES[1] and ts > t1:
                    t2 = int(ts)
                    rows.append((user_id, 2, _FUNNEL_STAGES[1], t2))
            elif t3 is None:
                if typ == _FUNNEL_STAGES[2] and ts > t2:
                    t3 = int(ts)
                    rows.append((user_id, 3, _FUNNEL_STAGES[2], t3))
        state.update((t1, t2, t3))
        state.setTimeoutDuration(timeout_ms)
        if rows:
            yield pd.DataFrame(
                rows, columns=[f.name for f in _FUNNEL_OUT.fields]
            )

    src = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return src.groupBy("user_id").applyInPandasWithState(
        track,
        _FUNNEL_OUT,
        _FUNNEL_STATE,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
