"""GTP v1/v2 control-plane decode + transaction enrichment.

SURVEY §2.2 P19 (version dispatch, gtp_ingestor.py:130,141,187),
P20/P21 (message decode + cause, gtp_ingestor.py:140-227), P22/P23
(IMSI/MSISDN extraction + TBCD, gtp_ingestor.py:231-281), §2.4 J2
(per-sequence-number transaction grouping with identifier
propagation, gtp_ingestor.py:42-71, 325-345).

Where the reference scans for hex byte patterns to find the IMSI
(gtp_ingestor.py:231-265), this decoder walks the information
elements properly (GTPv1 TV/TLV, GTPv2 TLIV) — same extracted
values on well-formed traffic, no false positives on lookalike
payload bytes.

J2 is one shuffle: ``Window.partitionBy(file, teid_key, seq)`` with
``min`` aggregates — group cardinality is tiny (request+response),
so AQE coalesces; no Python in the enrichment path.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestor_etl_spark.protocols.rows import map_rows

GTPC_V1_PORT = 2123

GTPV1_MSG = {
    16: "create_pdp_context_request",
    17: "create_pdp_context_response",
    18: "update_pdp_context_request",
    19: "update_pdp_context_response",
    20: "delete_pdp_context_request",
    21: "delete_pdp_context_response",
    26: "error_indication",
}
GTPV2_MSG = {
    32: "create_session_request",
    33: "create_session_response",
    34: "modify_bearer_request",
    35: "modify_bearer_response",
    36: "delete_session_request",
    37: "delete_session_response",
    38: "change_notification_request",
    39: "change_notification_response",
    64: "modify_bearer_command",
    66: "delete_bearer_command",
    95: "create_bearer_request",
    96: "create_bearer_response",
    97: "update_bearer_request",
    98: "update_bearer_response",
    99: "delete_bearer_request",
    100: "delete_bearer_response",
}

GTP_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("frame_no", LongType()),
        StructField("ts_us", LongType()),
        StructField("src_ip", StringType()),
        StructField("dst_ip", StringType()),
        StructField("gtp_version", IntegerType()),
        StructField("msg_type", IntegerType()),
        StructField("msg_name", StringType()),
        StructField("teid", LongType()),
        StructField("seq", LongType()),
        StructField("cause", IntegerType()),
        StructField("cause_text", StringType()),
        StructField("imsi", StringType()),
        StructField("msisdn", StringType()),
    ]
)
_COLS = [f.name for f in GTP_SCHEMA.fields]


def tbcd(data: bytes) -> str:
    """TBCD: swap nibbles per byte, stop at 0xF filler
    (gtp_ingestor.py:268-281 semantics)."""
    digits = []
    for b in data:
        lo, hi = b & 0x0F, b >> 4
        if lo == 0x0F:
            break
        digits.append(str(lo) if lo < 10 else "")
        if hi == 0x0F:
            break
        digits.append(str(hi) if hi < 10 else "")
    return "".join(digits)


# GTPv1 TV information elements have fixed lengths (TS 29.060);
# everything >= 128 is TLV.
_V1_TV_LEN = {1: 1, 2: 8, 3: 6, 4: 4, 5: 4, 8: 1, 9: 28, 11: 1, 12: 3, 13: 1,
              14: 1, 15: 1, 16: 4, 17: 4, 18: 5, 19: 1, 20: 1, 21: 1, 22: 9,
              23: 1, 24: 1, 25: 2, 26: 2, 27: 2, 28: 2, 29: 1, 127: 4}


def _iter_v1_ies(body: bytes) -> Iterator[tuple[int, bytes]]:
    pos = 0
    while pos < len(body):
        ie = body[pos]
        if ie < 128:
            ln = _V1_TV_LEN.get(ie)
            if ln is None or pos + 1 + ln > len(body):
                return
            yield ie, body[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        else:
            if pos + 3 > len(body):
                return
            ln = struct.unpack("!H", body[pos + 1 : pos + 3])[0]
            yield ie, body[pos + 3 : pos + 3 + ln]
            pos += 3 + ln


def _iter_v2_ies(body: bytes) -> Iterator[tuple[int, bytes]]:
    pos = 0
    while pos + 4 <= len(body):
        ie = body[pos]
        ln = struct.unpack("!H", body[pos + 1 : pos + 3])[0]
        yield ie, body[pos + 4 : pos + 4 + ln]
        pos += 4 + ln


def parse_gtp(payload: bytes) -> dict | None:
    """P19 dispatch on the flags byte: 0x32 → GTPv1 (S flag), 0x48 →
    GTPv2 (T flag) — gtp_ingestor.py:130,141,187."""
    if len(payload) < 8:
        return None
    flags = payload[0]
    if flags == 0x32 and len(payload) >= 12:
        mtype = payload[1]
        teid = struct.unpack("!I", payload[4:8])[0]
        seq = struct.unpack("!H", payload[8:10])[0]
        out = {
            "gtp_version": 1,
            "msg_type": mtype,
            "msg_name": GTPV1_MSG.get(mtype, f"gtpv1_{mtype}"),
            "teid": teid,
            "seq": seq,
        }
        for ie, data in _iter_v1_ies(payload[12:]):
            if ie == 1 and data:  # Cause
                out["cause"] = data[0]
                out["cause_text"] = "Request accepted" if data[0] == 128 else None
            elif ie == 2:  # IMSI (TBCD, 8 bytes)
                out["imsi"] = tbcd(data)
            elif ie == 134:  # MS International number: flag byte + TBCD
                out["msisdn"] = tbcd(data[1:])
        return out
    if flags & 0xF8 == 0x48 and len(payload) >= 12:
        mtype = payload[1]
        teid = struct.unpack("!I", payload[4:8])[0]
        seq = int.from_bytes(payload[8:11], "big")
        out = {
            "gtp_version": 2,
            "msg_type": mtype,
            "msg_name": GTPV2_MSG.get(mtype, f"gtpv2_{mtype}"),
            "teid": teid,
            "seq": seq,
        }
        for ie, data in _iter_v2_ies(payload[12:]):
            if ie == 2 and data:  # Cause
                out["cause"] = data[0]
                out["cause_text"] = "Request accepted" if data[0] == 16 else None
            elif ie == 1:  # IMSI
                out["imsi"] = tbcd(data)
            elif ie == 76:  # MSISDN
                out["msisdn"] = tbcd(data)
        return out
    return None


def _gtp_row(file, frame_no, ts_us, src, dst, payload):
    msg = parse_gtp(bytes(payload))
    if msg is not None:
        yield (file, frame_no, ts_us, src, dst) + tuple(msg.get(c) for c in _COLS[5:])


def decode_gtp(segments: DataFrame) -> DataFrame:
    """UDP port-2123 segments → one row per GTP-C message."""
    flows = segments.where(
        (F.col("ip_proto") == 17)
        & ((F.col("src_port") == GTPC_V1_PORT) | (F.col("dst_port") == GTPC_V1_PORT))
    )
    cols = ["file", "frame_no", "ts_us", "src_ip", "dst_ip", "payload"]
    out = map_rows(flows, cols, _gtp_row, GTP_SCHEMA)
    return out.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")


def enrich_gtp_transactions(msgs: DataFrame) -> DataFrame:
    """J2: group messages by sequence number and propagate the
    group's IMSI/MSISDN onto every member (gtp_ingestor.py:42-71).
    ``min`` (not ``first``) keeps the result order-independent and
    deterministic under retransmission."""
    w = Window.partitionBy("file", "gtp_version", "seq")
    return msgs.withColumn("imsi", F.coalesce("imsi", F.min("imsi").over(w))).withColumn(
        "msisdn", F.coalesce("msisdn", F.min("msisdn").over(w))
    )
