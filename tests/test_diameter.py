"""Golden tests: Diameter decode, reassembly, J1 correlation."""

from __future__ import annotations

import pytest

from ingestor_etl_spark.protocols.diameter import (
    correlate_diameter,
    decode_diameter,
    parse_message,
    stitch,
)
from ingestor_etl_spark.protocols.net import expand_l4
from ingestor_etl_spark.sources.pcap import read_pcap
from tests import pcapgen as g

SESSION = b"sess;1;42"


def _ccr(msisdn="5215550001", imsi="334020000000001"):
    return g.diameter_msg(
        272,
        True,
        hbh=0xAAAA0001,
        e2e=0xBBBB0001,
        avps=[
            g.diameter_avp(263, SESSION),
            g.diameter_avp(264, b"client.example"),
            g.diameter_avp(296, b"example"),
            g.diameter_avp(283, b"dest.example"),
            g.subscription_id(0, msisdn),
            g.subscription_id(1, imsi),
        ],
    )


def _cca(result=2001):
    import struct

    return g.diameter_msg(
        272,
        False,
        hbh=0xAAAA0001,
        e2e=0xBBBB0001,
        avps=[
            g.diameter_avp(263, SESSION),
            g.diameter_avp(264, b"server.example"),
            g.diameter_avp(268, struct.pack("!I", result)),
            g.diameter_avp(
                297,
                g.diameter_avp(298, struct.pack("!I", 5030)),
            ),
        ],
    )


def test_parse_message_fields():
    msg, consumed = parse_message(_ccr())
    assert consumed == len(_ccr())
    assert msg["request"] is True
    assert msg["command_code"] == 272
    assert msg["hop_by_hop_id"] == 0xAAAA0001
    assert msg["session_id"] == SESSION.decode()
    assert msg["origin_host"] == "client.example"
    assert msg["destination_realm"] == "dest.example"
    assert msg["msisdn"] == "5215550001"
    assert msg["imsi"] == "334020000000001"


def test_parse_message_answer_and_experimental_result():
    msg, _ = parse_message(_cca())
    assert msg["request"] is False
    assert msg["result_code"] == 2001
    assert msg["exp_result_code"] == 5030


def test_parse_nai_imsi_trim():
    m = g.diameter_msg(
        316, True, 1, 1, [g.diameter_avp(1, b"262011234567890@nai.epc.example")]
    )
    msg, _ = parse_message(m)
    assert msg["imsi"] == "262011234567890"


def test_parse_incomplete_signals_reassembly():
    buf = _ccr()[: len(_ccr()) // 2]
    msg, consumed = parse_message(buf)
    assert msg is None and consumed == -1


def test_stitch_same_rows_whole_or_across_micro_batches():
    """The one stitch walk batch and streaming share: a message split
    across segments, then two messages coalesced in one segment with
    a DWR between them. Fed whole, and split into two micro-batches at
    every cut with the pending bytes/frames carried over, it gives the
    same rows and frames_list."""
    ccr, cca = _ccr(), _cca()
    dwr = g.diameter_msg(280, True, 5, 5, [g.diameter_avp(264, b"peer")])
    other = g.diameter_msg(272, True, 7, 7, [g.diameter_avp(263, b"s2")])
    segs = [(1, 100, ccr[:30]), (2, 101, ccr[30:]), (3, 102, other + dwr + cca)]

    whole, pending, frames = stitch("f", "a", "b", segs)
    assert (pending, frames) == (b"", [])
    assert [(r[5], r[6], r[1]) for r in whole] == [
        (True, 272, [1, 2]), (True, 272, [3]), (True, 280, [3]), (False, 272, [3])
    ]
    for cut in range(1, len(segs)):
        first, pending, frames = stitch("f", "a", "b", segs[:cut])
        if cut == 1:
            assert (pending, frames) == (ccr[:30], [1])
        second, pending, frames = stitch("f", "a", "b", segs[cut:], pending, frames)
        assert first + second == whole


@pytest.fixture(scope="module")
def diameter_capture(tmp_path_factory):
    """CCR/CCA over SCTP, a DWR (dropped), an unmatched request, and
    a TCP-segmented CCR split across two frames."""
    ccr, cca = _ccr(), _cca()
    dwr = g.diameter_msg(280, True, 5, 5, [g.diameter_avp(264, b"peer")])
    orphan = g.diameter_msg(272, True, 0xDEAD, 0xDEAD, [g.diameter_avp(263, b"orph")])
    split = g.diameter_msg(
        272, True, 0xCAFE, 0xCAFE, [g.diameter_avp(263, b"tcp;sess"), g.subscription_id(0, "5215550002")]
    )
    half = len(split) // 2
    frames = [
        (1700, 1, g.eth(g.ipv4(g.sctp([(1, 0, 46, ccr)], 40001, 3868), 132))),
        (1700, 2, g.eth(g.ipv4(g.sctp([(1, 0, 46, dwr)], 40001, 3868), 132))),
        (1701, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, cca)], 3868, 40001), 132, src="10.0.0.2", dst="10.0.0.1"))),
        (1702, 0, g.eth(g.ipv4(g.sctp([(2, 0, 46, orphan)], 40001, 3868), 132))),
        (1703, 0, g.eth(g.ipv4(g.tcp(split[:half], 50000, 3868, seq=1, ack=1), 6))),
        (1703, 5, g.eth(g.ipv4(g.tcp(split[half:], 50000, 3868, seq=1 + half, ack=1), 6))),
    ]
    p = tmp_path_factory.mktemp("diam") / "diameter.pcap"
    p.write_bytes(g.pcap(frames))
    return str(p)


def test_decode_diameter_end_to_end(spark, diameter_capture):
    msgs = decode_diameter(expand_l4(read_pcap(spark, diameter_capture)))
    out = msgs.toPandas().sort_values("hop_by_hop_id").reset_index(drop=True)
    # DWR dropped; 4 messages remain (ccr, cca, orphan, tcp-split)
    assert len(out) == 4
    assert set(out["command_code"]) == {272}
    split_row = out[out.hop_by_hop_id == 0xCAFE].iloc[0]
    assert list(split_row.frames_list) == [5, 6]  # R2 reassembly
    assert split_row.msisdn == "5215550002"
    ccr_row = out[out.hop_by_hop_id == 0xAAAA0001].iloc[0]
    assert ccr_row.request and ccr_row.msisdn == "5215550001"


def test_correlate_diameter_j1(spark, diameter_capture):
    msgs = decode_diameter(expand_l4(read_pcap(spark, diameter_capture)))
    corr = correlate_diameter(msgs).toPandas()
    matched = corr[corr.matched]
    assert len(matched) == 1
    row = matched.iloc[0]
    # bidirectional enrichment: msisdn came from the request side,
    # result codes from the answer side
    assert row.msisdn == "5215550001"
    assert row.imsi == "334020000000001"
    assert row.result_code == 2001
    assert row.exp_result_code == 5030
    unmatched = corr[~corr.matched]
    assert len(unmatched) == 2  # orphan + tcp-split requests


def test_no_cross_file_stitching(spark, tmp_path):
    """Two captures with IDENTICAL flow tuples: the reassembly key
    includes the file, so each capture stitches independently (the
    per-file isolation the one-process-per-pcap reference gets
    implicitly)."""
    split = _ccr()
    half = len(split) // 2
    # file A carries only the first half; file B carries only the
    # second half on the same 5-tuple — neither must produce a row
    a = g.pcap([(1, 0, g.eth(g.ipv4(g.tcp(split[:half], 50000, 3868, seq=1, ack=1), 6)))])
    b = g.pcap([(1, 1, g.eth(g.ipv4(g.tcp(split[half:], 50000, 3868, seq=1 + half, ack=1), 6)))])
    (tmp_path / "a.pcap").write_bytes(a)
    (tmp_path / "b.pcap").write_bytes(b)
    msgs = decode_diameter(expand_l4(read_pcap(spark, str(tmp_path) + "/*.pcap")))
    assert msgs.count() == 0
    # sanity: the same two halves in ONE file do decode
    both = g.pcap(
        [
            (1, 0, g.eth(g.ipv4(g.tcp(split[:half], 50000, 3868, seq=1, ack=1), 6))),
            (1, 1, g.eth(g.ipv4(g.tcp(split[half:], 50000, 3868, seq=1 + half, ack=1), 6))),
        ]
    )
    (tmp_path / "c_only" ).mkdir()
    (tmp_path / "c_only" / "c.pcap").write_bytes(both)
    msgs2 = decode_diameter(expand_l4(read_pcap(spark, str(tmp_path / "c_only"))))
    assert msgs2.count() == 1


def _stream_mix_capture() -> bytes:
    """One TCP stream with a CCR split over three segments, then two
    requests coalesced in one segment with a DWR between them; two
    SCTP streams whose fragments interleave; one SCTP retransmit;
    two answers bundled in one frame on one stream key; and a TCP
    stream that ends mid-message (its tail is dropped)."""
    import struct

    def msg(cmd, request, hbh, session, *avps):
        return g.diameter_msg(cmd, request, hbh, hbh, [g.diameter_avp(263, session), *avps])

    ccr1, ccr2, ccr3 = (
        msg(272, True, i, b"tcp;%d" % i, g.subscription_id(0, f"52155500{i:02d}")) for i in (1, 2, 3)
    )
    dwr = msg(280, True, 9, b"dw")
    x, y, z = (msg(272, True, i, b"sctp;%d" % i) for i in (11, 12, 13))
    ok = g.diameter_avp(268, struct.pack("!I", 2001))
    a, b = (msg(272, False, i, b"sctp;%d" % i, ok) for i in (11, 12))
    tail = msg(272, True, 99, b"tail")

    def tcp(payload, seq, sport=50000):
        return g.eth(g.ipv4(g.tcp(payload, sport, 3868, seq=seq, ack=1), 6))

    def sctp(chunks, sport=40001, dport=3868, **ips):
        return g.eth(g.ipv4(g.sctp(chunks, sport, dport), 132, **ips))

    third = len(ccr1) // 3
    frames = [
        tcp(ccr1[:third], 1),
        sctp([(1, 5, 46, x[:20])]),
        tcp(ccr1[third : 2 * third], 1 + third),
        sctp([(2, 5, 46, y[:30])]),
        tcp(ccr1[2 * third :], 1 + 2 * third),
        sctp([(1, 5, 46, x[20:])]),
        tcp(ccr2 + dwr + ccr3, 1 + len(ccr1)),
        sctp([(2, 5, 46, y[30:])]),
        sctp([(1, 6, 46, z)]),
        tcp(tail[:20], 1, sport=50001),
        sctp([(1, 6, 46, z)]),
        sctp([(3, 0, 46, a), (3, 0, 46, b)], 3868, 40001, src="10.0.0.2", dst="10.0.0.1"),
    ]
    return g.pcap([(1700, i, f) for i, f in enumerate(frames)])


@pytest.mark.parametrize("seed,partitions", [(1, 1), (2, 3), (3, 7)])
def test_decode_diameter_scrambled_across_tiny_arrow_batches(spark, tmp_path, seed, partitions):
    """The batch stitch walk carries a stream's pending bytes across
    Arrow batch boundaries and keys TCP streams by their null SCTP
    ids. With two-row Arrow batches and the segments scrambled over
    ``partitions`` partitions, ``decode_diameter`` gives exactly the
    rows of ``stitch`` run per stream in frame order."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from ingestor_etl_spark.protocols.diameter import (
        CMD_DEVICE_WATCHDOG,
        MESSAGE_SCHEMA,
        STREAM_KEY,
        diameter_streams,
    )

    p = tmp_path / "mix.pcap"
    p.write_bytes(_stream_mix_capture())
    segments = expand_l4(read_pcap(spark, str(p)))

    streams = defaultdict(list)
    for r in diameter_streams(segments).collect():
        streams[tuple(r[c] for c in STREAM_KEY)].append((r.frame_no, r.ts_us, r.payload))
    expected = [
        row
        for key, segs in streams.items()
        for row in stitch(*key[:3], sorted(segs, key=lambda s: s[0]))[0]
        if row[6] != CMD_DEVICE_WATCHDOG
    ]
    assert len(streams) == 6  # 2 TCP flows + 4 SCTP (sid, ssn) keys
    # the DWR and the TCP tail yield nothing; the retransmit yields twice;
    # the two interleaved SCTP messages span two frames, the split CCR
    # three, so two-row batches cut it whatever the partition layout
    assert sorted(len(r[1]) for r in expected) == [1] * 6 + [2, 2, 3]

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        scrambled = segments.orderBy(F.rand(seed)).repartition(partitions)
        out = decode_diameter(scrambled).withColumn("ts_us", F.unix_micros("ts"))
        got = [tuple(r) for r in out.select(*MESSAGE_SCHEMA.fieldNames()).collect()]
    finally:
        spark.conf.set(conf, before)
    assert sorted(got, key=repr) == sorted(expected, key=repr)
