"""Diameter: decode + reassembly + request/answer correlation.

SURVEY §2.2 P11 (header parse, diameter.py:112-136), P12 (AVP walk,
diameter.py:138-208), §2.3 R1/R2 (SCTP/TCP payload reassembly,
diameter.py:274-287, 356-373), §2.4 J1 (request↔answer correlation
with bidirectional msisdn/imsi enrichment, diameter.py:302-339).

Spark shape:

    segments (net.expand_l4, port-3868 filter is native)
      → groupBy(stream key) + applyInPandas stitcher   [R1/R2]
          one shuffle, partitioned exactly like the reference's
          reassembly dicts were keyed — but spillable and parallel
          across keys/files
      → native filter command_code != 280               [DWR drop]
      → self-join requests ↔ answers on the txn key     [J1]

The byte walk is a plain-Python parser (unit-testable); everything
relational is DataFrame-native so Catalyst handles pruning/pushdown
and AQE picks the physical join. Streaming
(``streaming.pipeline.stream_decode_diameter``) runs the same segment
filter, stream key and ``stitch`` walk, carrying each stream's
pending bytes across micro-batches in keyed state.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestor_etl_spark.operators.correlate import correlate_full_outer

DIAMETER_PORT = 3868
CMD_DEVICE_WATCHDOG = 280

MESSAGE_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("frames_list", ArrayType(LongType())),
        StructField("ts_us", LongType()),
        StructField("src_ip", StringType()),
        StructField("dst_ip", StringType()),
        StructField("request", BooleanType()),
        StructField("command_code", IntegerType()),
        StructField("application_id", LongType()),
        StructField("hop_by_hop_id", LongType()),
        StructField("end_to_end_id", LongType()),
        StructField("session_id", StringType()),
        StructField("result_code", IntegerType()),
        StructField("exp_result_code", IntegerType()),
        StructField("origin_host", StringType()),
        StructField("origin_realm", StringType()),
        StructField("destination_host", StringType()),
        StructField("destination_realm", StringType()),
        StructField("msisdn", StringType()),
        StructField("imsi", StringType()),
    ]
)
_COLS = [f.name for f in MESSAGE_SCHEMA.fields]

# AVP code → output field for the simple string AVPs (P12).
_STR_AVPS = {
    263: "session_id",
    264: "origin_host",
    283: "destination_realm",
    293: "destination_host",
    296: "origin_realm",
}


def _iter_avps(body: bytes) -> Iterator[tuple[int, bytes]]:
    """Walk AVPs: code(4) flags(1) len(3) [vendor(4)] data, padded
    to 4. Zero length ends the walk (diameter.py:145-147)."""
    pos = 0
    while pos + 8 <= len(body):
        code = struct.unpack("!I", body[pos : pos + 4])[0]
        flags = body[pos + 4]
        alen = int.from_bytes(body[pos + 5 : pos + 8], "big")
        if alen == 0:
            break
        hdr = 12 if flags & 0x80 else 8
        yield code, body[pos + hdr : pos + alen]
        pos += (alen + 3) & ~3


def parse_message(buf: bytes) -> tuple[dict | None, int]:
    """One Diameter message at buf[0:]. Returns (fields|None,
    consumed). consumed == -1 → need more bytes (reassembly signal,
    diameter.py:133-136); None fields with consumed > 0 → not a
    Diameter message, skip the buffer."""
    if len(buf) < 20:
        return None, -1
    if buf[0] != 1:  # version (P11)
        return None, len(buf)
    length = int.from_bytes(buf[1:4], "big")
    if length < 20:
        return None, len(buf)
    if length > len(buf):
        return None, -1
    flags = buf[4]
    msg: dict = {
        "request": bool(flags & 0x80),
        "command_code": int.from_bytes(buf[5:8], "big"),
        "application_id": struct.unpack("!I", buf[8:12])[0],
        "hop_by_hop_id": struct.unpack("!I", buf[12:16])[0],
        "end_to_end_id": struct.unpack("!I", buf[16:20])[0],
    }
    for code, data in _iter_avps(buf[20:length]):
        if code in _STR_AVPS:
            msg[_STR_AVPS[code]] = data.decode("utf-8", "replace")
        elif code == 1:  # User-Name NAI → IMSI (diameter.py:155-161)
            name = data.decode("utf-8", "replace")
            if len(name) > 16 and "@" in name:
                digits = name.split("@", 1)[0]
                if digits.isdigit():
                    name = digits
            msg["imsi"] = name
        elif code == 268:
            msg["result_code"] = struct.unpack("!I", data[:4])[0] if len(data) >= 4 else None
        elif code == 297:  # Experimental-Result → inner 298
            for icode, idata in _iter_avps(data):
                if icode == 298 and len(idata) >= 4:
                    msg["exp_result_code"] = struct.unpack("!I", idata[:4])[0]
        elif code == 443:  # Subscription-Id → 450 type + 444 data
            sub_type, sub_data = None, None
            for icode, idata in _iter_avps(data):
                if icode == 450 and len(idata) >= 4:
                    sub_type = struct.unpack("!I", idata[:4])[0]
                elif icode == 444:
                    sub_data = idata.decode("utf-8", "replace")
            if sub_data is not None:
                if sub_type == 0:
                    msg["msisdn"] = sub_data
                elif sub_type == 1:
                    msg["imsi"] = sub_data
    return msg, length


def stitch(
    file: str,
    src: str,
    dst: str,
    segments: Iterable[tuple[int, int, bytes]],
    pending: bytes = b"",
    pending_frames: Sequence[int] = (),
) -> tuple[list[tuple], bytes, list[int]]:
    """R1/R2: replay one stream's ``(frame_no, ts_us, payload)``
    segments, in the order given, with the reference's
    stash-and-retry semantics. Returns one MESSAGE_SCHEMA row per
    complete message (watchdogs included) plus the bytes and frames
    still pending, which a later call continues from: batch walks a
    whole stream at once, streaming carries them in keyed state."""
    rows: list[tuple] = []
    for frame_no, ts_us, payload in segments:
        buf = pending + bytes(payload)
        frames = [*pending_frames, int(frame_no)]
        pos = 0
        while pos < len(buf):
            msg, consumed = parse_message(buf[pos:])
            if consumed == -1:
                break  # incomplete: stash remainder (diameter.py:274-287)
            if msg is not None:
                rows.append(
                    (file, frames, int(ts_us), src, dst)
                    + tuple(msg.get(c) for c in _COLS[5:])
                )
                frames = [int(frame_no)]  # later messages: this frame only
            pos += consumed
        pending = buf[pos:]
        pending_frames = frames if pending else []
    return rows, pending, pending_frames


def _stitch_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """R1/R2 in batch: one whole stream, walked in frame order."""
    pdf = pdf.sort_values("frame_no")
    rows, _, _ = stitch(
        pdf["file"].iloc[0], pdf["src_ip"].iloc[0], pdf["dst_ip"].iloc[0],
        zip(pdf["frame_no"], pdf["ts_us"], pdf["payload"]),
    )
    return pd.DataFrame(rows, columns=_COLS)


# The stream key mirrors the reference's reassembly dict keys: SCTP
# (sid, ssn, src, dst) — diameter.py:52-71 — and the TCP flow 4-tuple
# — diameter.py:74-96 — refined by file so captures never cross-talk.
STREAM_KEY = ["file", "src_ip", "dst_ip", "src_port", "dst_port", "sctp_sid", "sctp_ssn"]


def diameter_streams(segments: DataFrame) -> DataFrame:
    """Port-3868 SCTP chunks and TCP data/ACK segments, projected to
    the stream key plus the columns the stitch walk reads."""
    return (
        segments.where((F.col("src_port") == DIAMETER_PORT) | (F.col("dst_port") == DIAMETER_PORT))
        .where(F.col("tcp_flags").isNull() | F.col("tcp_flags").isin(16, 24))
        .select(*STREAM_KEY, "frame_no", "ts_us", "payload")
    )


def drop_watchdogs(messages: DataFrame) -> DataFrame:
    """Device-Watchdog (cmd 280) is dropped natively after decode
    (diameter.py:128-130)."""
    return messages.where(F.col("command_code") != CMD_DEVICE_WATCHDOG)


def decode_diameter(segments: DataFrame) -> DataFrame:
    """Port-filtered segments → one row per Diameter message, one
    ``applyInPandas`` stitch group per stream key."""
    msgs = diameter_streams(segments).groupBy(*STREAM_KEY).applyInPandas(
        _stitch_group, MESSAGE_SCHEMA
    )
    return drop_watchdogs(msgs).withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")


TXN_KEY = ["command_code", "hop_by_hop_id", "end_to_end_id", "session_id"]


def correlate_diameter(messages: DataFrame) -> DataFrame:
    """J1: full-outer request↔answer join on (command_code, hbh,
    e2e, session_id) with bidirectional msisdn/imsi enrichment and
    retransmission drop (duplicate request key, diameter.py:307-309).
    Unmatched leftovers surface with ``matched = false`` — the EOF
    flush (diameter.py:580-589) for free."""
    from ingestor_etl_spark.plans.layout import materialize

    # request/answer split = two consumers of the decode stage
    messages = materialize(messages)
    req = (
        messages.where("request")
        .dropDuplicates(TXN_KEY)
        .select(*TXN_KEY, *[F.col(c).alias(f"req_{c}") for c in ("frames_list", "ts", "src_ip", "dst_ip", "msisdn", "imsi", "result_code", "exp_result_code", "origin_host")])
    )
    ans = messages.where("NOT request").select(
        *TXN_KEY,
        *[F.col(c).alias(f"ans_{c}") for c in ("frames_list", "ts", "src_ip", "dst_ip", "msisdn", "imsi", "result_code", "exp_result_code", "origin_host")],
    )
    return correlate_full_outer(
        req,
        ans,
        on=TXN_KEY,
        enrich={
            "msisdn": ("req_msisdn", "ans_msisdn"),
            "imsi": ("req_imsi", "ans_imsi"),
            "result_code": ("ans_result_code", "req_result_code"),
            "exp_result_code": ("ans_exp_result_code", "req_exp_result_code"),
        },
    )
