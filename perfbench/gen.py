"""Seeded input generators for the benchmark workloads.

Run as a single-threaded process before the process under test starts:

    python3 perfbench/gen.py --workload diameter_mixed --seed 1 --out DIR [--scale 1.0]

It writes the timed input under ``DIR/timed``, a warm-up input from
another seed that shares no file with it under ``DIR/warm``, and
``DIR/manifest.json`` with the ground truth the output checks compare
against (for ``registry_cold``, DuckDB oracle results under
``DIR/expected``). The same seed and scale give byte-identical files.

Captures are built with ``ingestor_etl_spark.capturegen``. Unlike the
older single-stream recipe (every SCTP message on ``ssn=0``), SCTP
associations here increment the stream sequence number per message and
per stream, as real peers do, so every SCTP message is its own
reassembly group downstream.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import struct
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from ingestor_etl_spark import capturegen as g  # noqa: E402

WORKLOADS = ("diameter_mixed", "registry_cold")

EPOCH_S = 1_700_000_000
DIAMETER_PORT = 3868
APP_GX, APP_GY = 16777238, 4
CMD_CC, CMD_DW = 272, 280

# Sizes at scale 1.0 (see perfbench/README.md for the reasoning).
DIAMETER_SESSIONS = 500  # ~3.5k CCR/CCA messages plus watchdogs
DIAMETER_WARM_SESSIONS = 24  # warm-up input: same layout, ~170 messages
DIAMETER_FILES = 8
DIAMETER_ASSOCS = 32
DIAMETER_NOISE = 0.1  # share of frames that carry no Diameter
REGISTRY_ROWS = 20_000  # lineitem rows; other tables scale from it
REGISTRY_WARM_ROWS = 500
# Timed table sets, one per cold pass: a second pass over the same
# tables would hit the IVF training memo, which is keyed by the data.
REGISTRY_SETS = 6

# Registry queries timed by registry_cold, in run order: one per
# registry module the headline set touches; ann_ivf carries the IVF
# coarse-quantiser training at build time.
REGISTRY_QUERIES = [
    "q1_pricing_summary",
    "j6_sessionize",
    "exact_dedup",
    "simhash_clusters",
    "ann_ivf",
    "multimodal_features",
    "pcap_diameter_correlated",
]


# ---------------------------------------------------------------- frames
class Capture:
    """Frames of one capture file, ordered by timestamp when written."""

    def __init__(self) -> None:
        self.frames: list[tuple[int, int, bytes]] = []  # (ts_us, tiebreak, frame)

    def add(self, ts_us: int, frame: bytes) -> None:
        self.frames.append((ts_us, len(self.frames), frame))

    def to_pcap(self) -> bytes:
        ordered = sorted(self.frames)
        return g.pcap([(ts // 1_000_000, ts % 1_000_000, f) for ts, _, f in ordered])


def _ip(prefix: str, n: int) -> str:
    return f"{prefix}.{(n >> 8) & 255}.{n & 255}"


def _tcp_frame(src, dst, sport, dport, seq, ack, flags, payload=b"") -> bytes:
    return g.eth(g.ipv4(g.tcp(payload, sport, dport, seq, ack, flags), 6, src=src, dst=dst))


def _noise_frame(rng: random.Random) -> bytes:
    """A frame the Diameter pipeline must discard: not IPv4, UDP on
    another port, or TCP payload on another port."""
    kind = rng.random()
    if kind < 0.25:  # ARP
        return g.eth(bytes(rng.getrandbits(8) for _ in range(28)), ethertype=0x0806)
    if kind < 0.4:  # IPv6
        return g.eth(bytes(rng.getrandbits(8) for _ in range(60)), ethertype=0x86DD)
    src, dst = _ip("192.168", rng.randrange(1, 4000)), _ip("172.16", rng.randrange(1, 200))
    if kind < 0.7:  # DNS over UDP
        body = bytes(rng.getrandbits(8) for _ in range(rng.randrange(30, 90)))
        return g.eth(g.ipv4(g.udp(body, rng.randrange(1024, 65000), 53), 17, src=src, dst=dst))
    body = bytes(rng.getrandbits(8) for _ in range(rng.randrange(60, 600)))  # TLS
    return _tcp_frame(src, dst, rng.randrange(1024, 65000), 443,
                      rng.getrandbits(32), rng.getrandbits(32), 24, body)


# ---------------------------------------------------------------- Diameter
def _avp_u32(code: int, v: int) -> bytes:
    return g.diameter_avp(code, struct.pack("!I", v))


def _ccr(app, hbh, e2e, sess, req_type, req_no, msisdn, imsi, origin) -> bytes:
    avps = [
        g.diameter_avp(263, sess.encode()),
        g.diameter_avp(264, origin.encode()),
        g.diameter_avp(296, b"epc.mnc020.mcc334.3gppnetwork.org"),
        g.diameter_avp(283, b"ocs.mnc020.mcc334.3gppnetwork.org"),
        _avp_u32(258, app),
        _avp_u32(416, req_type),
        _avp_u32(415, req_no),
    ]
    if msisdn is not None:
        avps.append(g.subscription_id(0, msisdn))
    avps.append(g.subscription_id(1, imsi))
    if app == APP_GY and req_type != 3:  # Multiple-Services-Credit-Control
        rsu = g.diameter_avp(437, _avp_u32(420, 600))
        avps.append(g.diameter_avp(456, rsu + _avp_u32(432, 1000 + req_no)))
    return g.diameter_msg(CMD_CC, True, hbh, e2e, avps, app_id=app)


def _cca(app, hbh, e2e, sess, req_type, req_no, msisdn, result) -> bytes:
    avps = [
        g.diameter_avp(263, sess.encode()),
        _avp_u32(268, result),
        g.diameter_avp(264, b"ocs01.mnc020.mcc334.3gppnetwork.org"),
        g.diameter_avp(296, b"ocs.mnc020.mcc334.3gppnetwork.org"),
        _avp_u32(258, app),
        _avp_u32(416, req_type),
        _avp_u32(415, req_no),
    ]
    if msisdn is not None:
        avps.append(g.subscription_id(0, msisdn))
    if app == APP_GY and req_type != 3:
        gsu = g.diameter_avp(431, _avp_u32(420, 600))
        avps.append(g.diameter_avp(456, gsu + _avp_u32(268, 2001)))
    return g.diameter_msg(CMD_CC, False, hbh, e2e, avps, app_id=app)


def _dw(request: bool, hbh: int, origin: str) -> bytes:
    avps = [g.diameter_avp(264, origin.encode()),
            g.diameter_avp(296, b"epc.mnc020.mcc334.3gppnetwork.org")]
    if not request:
        avps.insert(0, _avp_u32(268, 2001))
    return g.diameter_msg(CMD_DW, request, hbh, hbh, avps, app_id=0)


class _Assoc:
    """One Diameter peering association (SCTP or TCP) client ↔ server."""

    def __init__(self, idx: int, sctp: bool, file: int, rng: random.Random) -> None:
        self.sctp, self.file = sctp, file
        self.client, self.server = _ip("10.1", idx + 1), _ip("10.2", idx % 4 + 1)
        self.cport = rng.randrange(30000, 60000)
        self.origin = f"pgw{idx:02d}.epc.mnc020.mcc334.3gppnetwork.org"
        self.n_streams = rng.randrange(4, 11)
        self.ssn: dict[tuple[bool, int], int] = {}
        self.sends: list[tuple[int, bool, bytes]] = []  # (ts_us, from_client, msg)

    def send(self, ts_us: int, from_client: bool, msg: bytes) -> None:
        self.sends.append((ts_us, from_client, msg))


def _emit_sctp(a: _Assoc, cap: Capture, rng: random.Random) -> None:
    sends = sorted(a.sends, key=lambda s: s[0])
    i = 0
    while i < len(sends):
        ts, up, msg = sends[i]
        chunks = []
        # Bundle the next message of the same direction into this packet
        # now and then (still one complete message per DATA chunk).
        group = [sends[i]]
        if i + 1 < len(sends) and sends[i + 1][1] == up and rng.random() < 0.15:
            group.append(sends[i + 1])
        for _, _, m in group:
            sid = rng.randrange(a.n_streams)
            ssn = a.ssn.get((up, sid), 0)
            a.ssn[(up, sid)] = (ssn + 1) & 0xFFFF
            chunks.append((sid, ssn, 46, m))
        src, dst = (a.client, a.server) if up else (a.server, a.client)
        sport, dport = (a.cport, DIAMETER_PORT) if up else (DIAMETER_PORT, a.cport)
        cap.add(ts, g.eth(g.ipv4(g.sctp(chunks, sport, dport), 132, src=src, dst=dst)))
        if rng.random() < 0.3:  # SACK from the receiver: no DATA chunk
            cap.add(ts + 200, g.eth(g.ipv4(g.sctp_control(3, dport, sport), 132, src=dst, dst=src)))
        i += len(group)


def _emit_tcp(a: _Assoc, cap: Capture, rng: random.Random) -> None:
    """Each direction is one byte stream cut into segments: a message may
    span 2-3 segments, and two messages may share one segment."""
    seq = {True: rng.getrandbits(31), False: rng.getrandbits(31)}
    t0 = min(s[0] for s in a.sends) - 3000
    c, s, cp, sp = a.client, a.server, a.cport, DIAMETER_PORT
    cap.add(t0, _tcp_frame(c, s, cp, sp, seq[True] - 1, 0, 2))  # SYN
    cap.add(t0 + 500, _tcp_frame(s, c, sp, cp, seq[False] - 1, seq[True], 18))  # SYN-ACK
    cap.add(t0 + 1000, _tcp_frame(c, s, cp, sp, seq[True], seq[False], 16))  # ACK
    for up in (True, False):
        msgs = sorted((t, m) for t, u, m in a.sends if u == up)
        segs: list[tuple[int, bytes]] = []
        k = 0
        while k < len(msgs):
            t, m = msgs[k]
            r = rng.random()
            if r < 0.3 and k + 1 < len(msgs):  # two messages share a segment
                t2, m2 = msgs[k + 1]
                segs.append((t2, m + m2))
                k += 2
                continue
            if r < 0.7:  # split across 2-3 segments
                n = rng.choice((2, 3))
                cuts = sorted(rng.sample(range(1, len(m)), n - 1))
                parts = [m[i:j] for i, j in zip([0, *cuts], [*cuts, len(m)])]
                for p_i, part in enumerate(parts):
                    segs.append((t + 40 * p_i, part))
            else:
                segs.append((t, m))
            k += 1
        src, dst = (c, s) if up else (s, c)
        sport, dport = (cp, sp) if up else (sp, cp)
        last = t0 + 1000
        for t, payload in segs:
            t = last = max(t, last + 10)  # frame order is byte order
            # The peer's ack only needs to be plausible; reassembly keys on
            # the flow and frame order.
            cap.add(t, _tcp_frame(src, dst, sport, dport, seq[up], seq[not up], 24, payload))
            seq[up] = (seq[up] + len(payload)) & 0xFFFFFFFF
            if rng.random() < 0.25:  # pure ACK from the receiver
                cap.add(t + 100, _tcp_frame(dst, src, dport, sport, seq[not up], seq[up], 16))


def gen_diameter(out: str, seed: int, n_sessions: int, n_files: int, n_assocs: int) -> dict:
    """Gx/Gy CCR/CCA peering traffic over ``n_files`` captures, one of
    which carries about a third of the associations."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    weights = [max(1, n_files // 2)] + [1] * (n_files - 1)  # file 0 ≈ 1/3
    assocs = []
    for i in range(n_assocs):
        file = rng.choices(range(n_files), weights=weights)[0] if i >= n_files else i
        assocs.append(_Assoc(i, sctp=(i % 4 != 3), file=file, rng=rng))  # 75% SCTP
    files = [{"name": f"dia_{f:02d}.pcap", "frames": 0, "messages": 0, "watchdogs": 0}
             for f in range(n_files)]
    txns: dict[str, dict] = {}  # session_id|hbh → expectation
    hbh = rng.getrandbits(30)
    for s in range(n_sessions):
        a = rng.choice(assocs)
        app = APP_GX if rng.random() < 0.5 else APP_GY
        sess = f"{a.origin};{rng.getrandbits(32)};{s}"
        msisdn = f"52155{rng.randrange(10**7):07d}"
        imsi = f"334020{rng.randrange(10**9):09d}"
        n_upd = rng.randrange(0, 4)
        ts = EPOCH_S * 1_000_000 + rng.randrange(0, 60_000_000)
        req_types = [1] + [2] * n_upd + [3]
        for no, rt in enumerate(req_types):
            hbh += 1
            e2e = hbh ^ 0x5A5A5A5A
            ans_carries = rng.random() < 0.1  # msisdn only in the answer
            req = _ccr(app, hbh, e2e, sess, rt, no, None if ans_carries else msisdn, imsi, a.origin)
            a.send(ts, True, req)
            n_msgs = 1
            fate = rng.random()
            retrans = 0.02 <= fate < 0.03
            if retrans:  # the peer resends the same request (T bit)
                dup = bytearray(req)
                dup[4] |= 0x10
                a.send(ts + 30_000, True, bytes(dup))
                n_msgs += 1
            answered = fate >= 0.02
            if answered:
                a.send(ts + (40_000 if retrans else rng.randrange(500, 20_000)), False,
                       _cca(app, hbh, e2e, sess, rt, no, msisdn if ans_carries else None,
                            2001 if rng.random() < 0.97 else 5030))
                n_msgs += 1
            files[a.file]["messages"] += n_msgs
            txns[f"{sess}|{hbh}"] = {"matched": answered,
                                     "msisdn": msisdn if (answered or not ans_carries) else None}
            ts += rng.randrange(50_000, 2_000_000)
    # Watchdogs: ~5% of all messages, DWR/DWA pairs spread over each association.
    total = sum(f["messages"] for f in files)
    n_dw_pairs = max(len(assocs), round(total * 0.05 / 0.95 / 2))
    for k in range(n_dw_pairs):
        a = assocs[k % len(assocs)]
        hbh += 1
        ts = EPOCH_S * 1_000_000 + rng.randrange(0, 60_000_000)
        a.send(ts, True, _dw(True, hbh, a.origin))
        a.send(ts + 800, False, _dw(False, hbh, "ocs01.mnc020.mcc334.3gppnetwork.org"))
        files[a.file]["watchdogs"] += 2
    caps = [Capture() for _ in range(n_files)]
    for a in assocs:
        if a.sends:
            (_emit_sctp if a.sctp else _emit_tcp)(a, caps[a.file], rng)
    for cap in caps:  # other traffic on the tapped link
        n_noise = round(len(cap.frames) * DIAMETER_NOISE / (1 - DIAMETER_NOISE))
        for _ in range(n_noise):
            cap.add(EPOCH_S * 1_000_000 + rng.randrange(0, 60_000_000), _noise_frame(rng))
    for f, cap in enumerate(caps):
        files[f]["frames"] = len(cap.frames)
        with open(os.path.join(out, files[f]["name"]), "wb") as fh:
            fh.write(cap.to_pcap())
    matched = sum(1 for t in txns.values() if t["matched"])
    return {
        "family": "diameter",
        "files": files,
        "frames": sum(f["frames"] for f in files),
        "decoded_messages": total,
        "table_rows": len(txns),
        "matched": matched,
        "request_only": len(txns) - matched,
        "msisdn": {k: v["msisdn"] for k, v in txns.items() if v["matched"]},
    }


# ---------------------------------------------------------------- registry tables
_WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
          "line table data agg value key stream window a spark part group big sort query "
          "fast the").split()


def gen_tables(out: str, seed: int, n_lineitem: int) -> None:
    """The catalog tables (``ingestor_etl_spark.catalog.TABLES``) with the
    shapes the registry queries expect: TPC-H-like star schema, an
    events stream, documents with ~5% near-duplicates, and unit-norm
    64-d embeddings around 10 labelled centres."""
    import numpy as np
    import pandas as pd

    os.makedirs(out, exist_ok=True)
    rs = np.random.RandomState(seed % 2**32)
    n_orders = n_lineitem // 4
    n_cust, n_part, n_supp = max(15, n_orders // 10), max(20, n_orders * 2 // 15), max(10, n_orders // 150)
    n_events, n_docs = n_lineitem // 6, max(200, n_lineitem // 40)
    n_emb = 500  # the IVF/PQ fixture seed ids (≤ 450) must exist as vec_ids
    day = np.timedelta64(1, "D")

    def write(name: str, df: pd.DataFrame) -> None:
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)

    write("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")}))
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rs.randint(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rs.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}))
    write("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rs.randint(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
    write("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[rs.randint(8)]} {noun[rs.randint(8)]}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rs.randint(1, 26, n_part)],
        "p_type": rs.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rs.randint(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}))
    o_date = np.datetime64("1995-01-01") + rs.randint(0, 2404, n_orders) * day
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rs.randint(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": rs.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rs.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": rs.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)}))
    l_order = rs.randint(0, n_orders, n_lineitem).astype("int64")
    qty = rs.randint(1, 51, n_lineitem).astype("float64")
    write("lineitem", pd.DataFrame({
        "l_orderkey": l_order,
        "l_partkey": rs.randint(0, n_part, n_lineitem).astype("int64"),
        "l_suppkey": rs.randint(0, n_supp, n_lineitem).astype("int64"),
        "l_linenumber": rs.randint(1, 8, n_lineitem).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2100, n_lineitem), 2),
        "l_discount": rs.randint(0, 11, n_lineitem) / 100.0,
        "l_tax": rs.randint(0, 9, n_lineitem) / 100.0,
        "l_returnflag": rs.choice(["A", "N", "R"], n_lineitem),
        "l_linestatus": rs.choice(["F", "O"], n_lineitem),
        "l_shipdate": (o_date[l_order] + rs.randint(1, 122, n_lineitem) * day).astype("datetime64[us]")}))
    gaps = rs.exponential(259.0, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype("int64").astype("timedelta64[us]")
    write("events", pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ts,
        "user_id": rs.randint(0, max(10, n_events // 66), n_events).astype("int64"),
        "event_type": rs.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(np.maximum(0.01, rs.exponential(49.6, n_events)), 2),
        "props": [f'{{"k": {k}}}' for k in rs.randint(0, 100, n_events)]}))
    texts = [" ".join(rs.choice(_WORDS, rs.randint(10, 100))) for _ in range(n_docs)]
    for i in rs.choice(n_docs, n_docs // 20, replace=False):  # near-duplicates
        texts[i] = texts[rs.randint(n_docs)] + " dup" * rs.randint(1, 3)
    write("documents", pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rs.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}))
    centres = rs.normal(0, 1, (10, 64))
    labels = rs.randint(0, 10, n_emb)
    vecs = centres[labels] * 0.15 + rs.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    write("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32")}))


def expected_results(sf_dir: str, names: list[str], out: str) -> None:
    """Run each query's DuckDB oracle over ``sf_dir`` single-threaded and
    store the result as ``out/<name>.parquet``."""
    import duckdb

    from ingestor_etl_spark.catalog import TABLES, table_path
    from ingestor_etl_spark.queries import load_all

    registry = load_all()
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for name in names:
            if registry[name].oracle:
                con.execute(registry[name].oracle).fetchdf().to_parquet(
                    os.path.join(out, f"{name}.parquet"), index=False)
    finally:
        con.close()


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> dict:
    """Write the warm-up and timed inputs of ``workload`` under ``out``
    and return (and store) the manifest of the timed input."""
    warm_seed = seed + 1_000_003  # warm-up input shares nothing with the timed one
    # The warm-up input is small but has the timed input's layout, so it
    # runs the same code paths.
    if workload == "diameter_mixed":
        gen_diameter(os.path.join(out, "warm"), warm_seed, DIAMETER_WARM_SESSIONS,
                     DIAMETER_FILES, DIAMETER_ASSOCS)
        n = max(16, round(DIAMETER_SESSIONS * scale))
        manifest = gen_diameter(os.path.join(out, "timed"), seed, n, DIAMETER_FILES, DIAMETER_ASSOCS)
    elif workload == "registry_cold":
        rows = max(REGISTRY_WARM_ROWS, round(REGISTRY_ROWS * scale))
        gen_tables(os.path.join(out, "warm"), warm_seed, REGISTRY_WARM_ROWS)
        for p in range(REGISTRY_SETS):
            tables = os.path.join(out, "timed", f"set{p}")
            gen_tables(tables, seed * 16 + p, rows)
            expected_results(tables, REGISTRY_QUERIES, os.path.join(out, "expected", f"set{p}"))
        manifest = {"family": "registry", "lineitem_rows": rows, "queries": REGISTRY_QUERIES}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest.update(workload=workload, seed=seed, scale=scale)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    generate(args.workload, args.seed, args.out, args.scale)
    return 0


if __name__ == "__main__":
    sys.exit(main())
