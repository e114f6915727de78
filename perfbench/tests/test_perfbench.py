"""Self-tests of the benchmark: generator determinism, manifest
consistency against an independent decode of the captures, the
no-checkout refusal, and a tiny smoke run per workload that must emit
every metric named in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys
from collections import Counter, defaultdict

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from ingestor_etl_spark.protocols.diameter import parse_message  # noqa: E402
from ingestor_etl_spark.protocols.net import iter_sctp_data_chunks, parse_ipv4, strip_link  # noqa: E402
from ingestor_etl_spark.sources.pcap import iter_frames  # noqa: E402
from perfbench.gen import generate  # noqa: E402

SMALL = 0.1


def _digests(d: str) -> dict[str, str]:
    out = {}
    for sub, _, files in os.walk(d):
        for f in files:
            p = os.path.join(sub, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["diameter_mixed", "registry_cold"])
def test_same_seed_same_bytes(tmp_path, workload):
    generate(workload, 5, str(tmp_path / "a"), SMALL)
    generate(workload, 5, str(tmp_path / "b"), SMALL)
    generate(workload, 6, str(tmp_path / "c"), SMALL)
    a, b, c = (_digests(str(tmp_path / x / "timed")) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c
    # the warm-up input shares no file with the timed one; only the
    # constant region/nation dimension tables have equal content
    warm = _digests(str(tmp_path / "a" / "warm"))
    shared = {os.path.basename(k) for k, v in a.items() if v in set(warm.values())}
    assert shared <= {"region.parquet", "nation.parquet"}


def _walk(path: str):
    """Independent decode: (frames, frames without Diameter, messages,
    SCTP (sid, ssn) per direction)."""
    with open(path, "rb") as fh:
        data = fh.read()
    n_frames = n_noise = 0
    streams: dict[tuple, bytearray] = defaultdict(bytearray)
    msgs, ssns = [], defaultdict(list)
    for _, _, dlt, _, pkt in iter_frames(data):
        n_frames += 1
        dgram = strip_link(dlt, pkt)
        ip = parse_ipv4(dgram) if dgram else None
        if ip is None:
            n_noise += 1
            continue
        src, dst, proto, *_, l4 = ip
        if proto == 132:
            for sport, dport, sid, ssn, _, chunk in iter_sctp_data_chunks(l4):
                msg, used = parse_message(chunk)
                assert used == len(chunk), "one complete message per DATA chunk"
                msgs.append(msg)
                ssns[(src, sport, dst, sid)].append(ssn)
        elif proto == 6 and len(l4) >= 20:
            sport, dport = struct.unpack("!HH", l4[:4])
            if 3868 in (sport, dport):
                streams[(src, sport, dst, dport)] += l4[(l4[12] >> 4) * 4:]
            else:
                n_noise += 1
        else:
            n_noise += 1
    for buf in streams.values():
        pos = 0
        while pos < len(buf):
            msg, used = parse_message(bytes(buf[pos:]))
            assert used > 0, "TCP stream ends on a message boundary"
            msgs.append(msg)
            pos += used
    return n_frames, n_noise, msgs, ssns


def test_diameter_manifest_matches_captures(tmp_path):
    m = generate("diameter_mixed", 11, str(tmp_path), SMALL)
    assert m["table_rows"] == m["matched"] + m["request_only"]
    assert len(m["msisdn"]) == m["matched"]
    assert m["decoded_messages"] == sum(f["messages"] for f in m["files"])
    biggest = max(f["frames"] for f in m["files"])
    assert biggest > m["frames"] / 5  # one file carries a large share
    unique, noise = set(), 0
    for f in m["files"]:
        n_frames, n_noise, msgs, ssns = _walk(str(tmp_path / "timed" / f["name"]))
        noise += n_noise
        kinds = Counter(msg["command_code"] == 280 for msg in msgs)
        assert n_frames == f["frames"]
        assert kinds[False] == f["messages"]
        assert kinds[True] == f["watchdogs"]
        for seq in ssns.values():  # per-message SSNs: 0, 1, 2, ... per stream
            assert seq == list(range(len(seq)))
        unique |= {(x["hop_by_hop_id"], x["end_to_end_id"]) for x in msgs
                   if x["request"] and x["command_code"] != 280}
    assert len(unique) == m["table_rows"]
    assert 0.05 <= noise / m["frames"] <= 0.15
    # the warm-up input is small and has the timed input's layout
    warm = sorted(os.listdir(tmp_path / "warm"))
    assert warm == sorted(f["name"] for f in m["files"])


def test_refuses_without_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "diameter_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["diameter_mixed", "registry_cold"])
def test_smoke_emits_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SMALL)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
