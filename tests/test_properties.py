"""Property-based tests (SURVEY §5.3) for the pure decoders —
hypothesis drives randomized round-trips and permutation
invariance; no Spark session needed."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ingestor_etl_spark import capturegen as g
from ingestor_etl_spark.protocols.diameter import _iter_avps, parse_message
from ingestor_etl_spark.protocols.gsm_map import (
    ber_children,
    ber_find,
    parse_m3ua,
    parse_mtp3,
    parse_sccp,
    parse_tcap,
)
from ingestor_etl_spark.protocols.gtp import parse_gtp
from ingestor_etl_spark.protocols.gtp import tbcd as tbcd_decode
from ingestor_etl_spark.protocols.net import iter_sctp_data_chunks
from ingestor_etl_spark.protocols.smpp import parse_pdus
from ingestor_etl_spark.sources.pcap import iter_pcap_frames

digits = st.text(alphabet="0123456789", min_size=1, max_size=20)


@given(digits)
def test_tbcd_roundtrip(d):
    """BCD encode → decode is identity for any digit string."""
    assert tbcd_decode(g.tbcd(d)) == d


@given(st.lists(st.tuples(st.integers(1, 1000), st.binary(max_size=40)), max_size=8))
def test_avp_walk_recovers_all_codes(avps):
    """The AVP walk visits every AVP of a well-formed sequence, in
    order, with exact payloads (24-bit lengths + padding math)."""
    buf = b"".join(g.diameter_avp(code, data) for code, data in avps)
    walked = list(_iter_avps(buf))
    assert [(c, d) for c, d in walked] == avps


@given(
    st.integers(0, 0xFFFFFF),
    st.booleans(),
    st.integers(0, 2**32 - 1),
    st.integers(0, 2**32 - 1),
    st.lists(st.tuples(st.integers(1, 500), st.binary(max_size=24)), max_size=5),
)
def test_diameter_header_roundtrip(cmd, request, hbh, e2e, avps):
    msg = g.diameter_msg(cmd, request, hbh, e2e, [g.diameter_avp(c, d) for c, d in avps])
    parsed, consumed = parse_message(msg)
    assert consumed == len(msg)
    assert parsed["command_code"] == cmd
    assert parsed["request"] is request
    assert parsed["hop_by_hop_id"] == hbh
    assert parsed["end_to_end_id"] == e2e


@given(st.binary(min_size=20))
def test_parse_message_never_crashes_or_overreads(buf):
    """Malformed input must signal skip/incomplete, never raise or
    consume more bytes than provided (§2.8 error isolation)."""
    msg, consumed = parse_message(buf)
    assert consumed == -1 or 0 < consumed <= len(buf)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5), st.integers(0, 5), st.integers(0, 100), st.binary(min_size=1, max_size=30)
        ),
        min_size=1,
        max_size=6,
    )
)
def test_sctp_chunk_walk_recovers_all_chunks(chunks):
    """Every DATA chunk of an SCTP packet is emitted with exact
    (sid, ssn, ppid, payload) regardless of padding."""
    pkt = g.sctp(chunks, 1000, 2000)
    out = list(iter_sctp_data_chunks(pkt))
    assert [(sid, ssn, ppid, pl) for _, _, sid, ssn, ppid, pl in out] == chunks


@given(st.lists(st.binary(min_size=0, max_size=60), min_size=1, max_size=5), st.data())
def test_pcap_container_roundtrip(payloads, data):
    """pcap write → frame walk preserves count, order, timestamps
    (µs) and payload bytes."""
    frames = [
        (data.draw(st.integers(0, 2**31 - 1)), data.draw(st.integers(0, 999999)), p)
        for p in payloads
    ]
    buf = g.pcap(frames)
    out = list(iter_pcap_frames(buf))
    assert len(out) == len(frames)
    for (sec, usec, payload), (no, ts_us, dlt, orig, got) in zip(frames, out):
        assert ts_us == sec * 1_000_000 + usec
        assert got == payload


@given(
    st.lists(
        st.tuples(st.sampled_from([0x4, 0x5, 0x80000004, 0x00000002]), st.integers(0, 2**31 - 1)),
        min_size=1,
        max_size=6,
    )
)
def test_smpp_multi_pdu_walk(cmds):
    """The length walk finds exactly the kept PDUs of a
    back-to-back PDU stream, in order."""
    stream = b"".join(
        g.smpp_pdu(cid, 0, seq, g.smpp_submit_body("1", "2") if cid in (4, 5) else b"")
        for cid, seq in cmds
    )
    out = list(parse_pdus(stream))
    kept = [(c, s) for c, s in cmds if c in (0x4, 0x5, 0x80000004)]
    assert [(p["sequence_number"]) for p in out] == [s for _, s in kept]


_SMPP_KEPT = {0x4, 0x5, 0x103, 0x80000004, 0x80000005, 0x80000103}
_SMPP_REQS = {0x4, 0x5, 0x103}


@given(
    st.lists(
        st.tuples(
            st.sampled_from(
                sorted(_SMPP_KEPT)
                + [0x2, 0x9, 0x15, 0x80000015, 0x6, 0x102, 0x80000000, 0xDEADBEEF]
            ),
            st.integers(0, 2**31 - 1),
            st.binary(max_size=32),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_smpp_unknown_pdus_never_desync(cmds):
    """The reference decodes then DROPS non-submit/deliver/data PDUs
    (smpp_ingestor.py:109-163); the own codec must skip unknown
    command ids — including ones carrying arbitrary body bytes —
    purely via the length walk, without desyncing the following kept
    PDUs. All six kept commands must come out, in order, with their
    sequence numbers intact."""
    stream = b"".join(
        g.smpp_pdu(
            cid, 0, seq,
            g.smpp_submit_body("1", "2") if cid in _SMPP_REQS else body,
        )
        for cid, seq, body in cmds
    )
    out = list(parse_pdus(stream))
    kept = [(cid, seq) for cid, seq, _ in cmds if cid in _SMPP_KEPT]
    assert [p["sequence_number"] for p in out] == [s for _, s in kept]
    assert [p["is_response"] for p in out] == [bool(c & 0x80000000) for c, _ in kept]


@given(st.binary(max_size=64))
def test_ber_walk_never_overreads(buf):
    """BER iteration on arbitrary bytes terminates and never raises;
    ber_find is bounded by max_depth."""
    for tag, value, constructed in ber_children(buf):
        assert len(value) <= len(buf)
    ber_find(buf, 0x48)


def _headed(*headers: bytes):
    """Arbitrary bytes, half of them behind a header the parser
    accepts, so the walk past the header sees arbitrary bytes too."""
    tail = st.binary(max_size=96)
    return st.one_of(tail, st.builds(bytes.__add__, st.sampled_from(headers), tail))


# M3UA checks the message length against the chunk, so its header is
# built per input; half the bodies open with the protocol-data tag.
_M3UA_DATA = _headed(b"\x02\x10").map(
    lambda body: b"\x01\x00\x01\x01" + struct.pack("!I", 8 + len(body)) + body
)

_PARSER_INPUTS = {
    "gtp": (parse_gtp, _headed(b"\x32", b"\x48", b"\x4c")),
    "m3ua": (parse_m3ua, st.one_of(st.binary(max_size=96), _M3UA_DATA)),
    "mtp3": (parse_mtp3, _headed(b"\x03", b"\x83")),
    "sccp": (parse_sccp, _headed(b"\x09", b"\x11", b"\x12", b"\x11\x00")),
    "tcap": (parse_tcap, _headed(b"\x61", b"\x62", b"\x64", b"\x65", b"\x67")),
}


@pytest.mark.parametrize("name", sorted(_PARSER_INPUTS))
@settings(max_examples=500)
@given(data=st.data())
def test_parsers_never_raise_on_arbitrary_bytes(name, data):
    """Capture bytes come from outside the program; these parsers
    return None or partial fields on any input instead of raising, so
    the ``except`` in ``protocols.rows.map_rows`` is defence in depth,
    not the decode path."""
    parse, inputs = _PARSER_INPUTS[name]
    parse(data.draw(inputs))


@given(st.integers(0, 2**32 - 1), st.integers(0, 2**32 - 1))
def test_tcap_tid_padding(otid, dtid):
    """otid/dtid survive the BER encode → 4-byte left-pad decode."""
    from ingestor_etl_spark.protocols.gsm_map import parse_tcap

    msg = g.tcap_msg("continue", otid=otid, dtid=dtid)
    out = parse_tcap(msg)
    assert out["tcap_otid"] == otid
    assert out["tcap_dtid"] == dtid
    assert out["tcap_tid"] == otid  # continue keys by otid


@settings(max_examples=25)
@given(st.permutations(list(range(6))))
def test_reassembly_order_invariance(order):
    """Batch reassembly sorts by frame_no before stitching, so any
    arrival permutation of the same segments yields the same
    messages (SURVEY §7.4 order-sensitivity requirement)."""
    import pandas as pd

    from ingestor_etl_spark.protocols.diameter import _stitch_group

    msg = g.diameter_msg(272, True, 7, 9, [g.diameter_avp(263, b"abcdef")])
    # six 1-byte-overlapping slices of two messages back to back
    stream = msg + g.diameter_msg(272, False, 7, 9, [g.diameter_avp(268, struct.pack("!I", 2001))])
    cuts = [0, 11, 17, 29, 41, 53, len(stream)]
    segs = [(i + 1, stream[cuts[i] : cuts[i + 1]]) for i in range(6)]
    pdf = pd.DataFrame(
        {
            "file": "f",
            "frame_no": [segs[i][0] for i in order],
            "ts_us": [1000 + segs[i][0] for i in order],
            "payload": [segs[i][1] for i in order],
            "src_ip": "a",
            "dst_ip": "b",
        }
    )
    out = _stitch_group(pdf)
    assert len(out) == 2
    assert sorted(out["request"]) == [False, True]


# ---------------------------------------------------------------------------
# Wave-8/9 pure-math properties (no Spark): CMS guarantee, Morton
# locality, Bloom no-false-negatives.

import hashlib as _hl


@given(st.lists(st.text(alphabet="abcde", min_size=1, max_size=3),
                min_size=1, max_size=200))
def test_cms_estimate_never_undercounts(tokens):
    """Count-min property: for EVERY token, min-over-rows of its
    bucket counts >= its true count (whatever the collisions)."""
    depth, width = 3, 16

    def bucket(j, w):
        return int(_hl.md5(f"{j}:{w}".encode()).hexdigest()[:8], 16) % width

    cells: dict[tuple, int] = {}
    from collections import Counter

    for w in tokens:
        for j in range(depth):
            k = (j, bucket(j, w))
            cells[k] = cells.get(k, 0) + 1
    exact = Counter(tokens)
    for w, n in exact.items():
        est = min(cells[(j, bucket(j, w))] for j in range(depth))
        assert est >= n


@given(st.integers(0, 63), st.integers(0, 63), st.integers(0, 63),
       st.integers(0, 63))
def test_morton_z_preserves_rectangle_bound(x1, y1, x2, y2):
    """Morton property the zorder_layout zone maps rely on: two
    points in the same aligned 16×16 block share their z-value's
    high bits (same 256-wide z-range); conversely same z div 256 ⟹
    same 16×16 block."""

    def morton(bx, by):
        z = 0
        for i in range(6):
            z |= ((bx >> i) & 1) << (2 * i + 1)
            z |= ((by >> i) & 1) << (2 * i)
        return z

    same_block = (x1 // 16 == x2 // 16) and (y1 // 16 == y2 // 16)
    same_zrange = morton(x1, y1) // 256 == morton(x2, y2) // 256
    assert same_block == same_zrange


@given(st.sets(st.integers(0, 10_000), max_size=60),
       st.lists(st.integers(0, 10_000), max_size=60))
def test_bloom_no_false_negatives(keys, probes):
    """Bloom property bloom_join_filter's correctness rests on:
    every inserted key always passes membership (false positives
    allowed, false negatives never)."""
    bits, bpw = 1024, 32

    def pos(salt, k):
        return int(_hl.md5(f"{salt}{k}".encode()).hexdigest()[:8], 16) % bits

    words: dict[int, int] = {}
    for k in keys:
        for p in (pos("a", k), pos("b", k)):
            words[p // bpw] = words.get(p // bpw, 0) | (1 << (p % bpw))

    def member(k):
        return all(
            words.get(pos(s, k) // bpw, 0) & (1 << (pos(s, k) % bpw))
            for s in ("a", "b")
        )

    for k in keys:
        assert member(k)


def test_png_codec_round_trip_property():
    """Hypothesis: encode→decode is the identity for every supported
    color type, size, pixel content, and per-scanline filter choice
    (the filters are APPLIED by the encoder, so the decoder must
    genuinely undo Sub/Up/Average/Paeth)."""
    from hypothesis import given, settings, strategies as st

    from ingestor_etl_spark.queries.multimodal_ops import (
        decode_image,
        encode_png,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        ch=st.sampled_from([1, 2, 3, 4]),
        w=st.integers(min_value=1, max_value=9),
        h=st.integers(min_value=1, max_value=9),
        data=st.data(),
    )
    def check(ch, w, h, data):
        pix = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * ch,
                    max_size=w * h * ch,
                )
            )
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        assert decode_image(encode_png(pix, w, h, ch, filters)) == (
            w,
            h,
            ch,
            pix,
        )

    check()
