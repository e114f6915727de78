"""Output checks: ingest outputs against the generator's manifest, query
outputs against their DuckDB oracle results. Every check counts as one
attempt; a failed one records what differed."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


class Report:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def check_ingest(report: Report, manifest: dict, out_dir: str) -> None:
    """Diameter ingest output against the manifest: table rows, matched /
    request-only counts, enriched msisdn on matched rows, and one
    ``processed`` ledger row per input file that decoded anything,
    carrying that file's decoded-message count."""
    tag = os.path.basename(out_dir)
    t = _read(os.path.join(out_dir, "table"), ["session_id", "hop_by_hop_id", "matched", "msisdn"])
    matched = t[t["matched"]]
    n_matched, n_req_only = len(matched), int((~t["matched"]).sum())
    keys = matched["session_id"] + "|" + matched["hop_by_hop_id"].astype(str)
    report.check(len(t) == manifest["table_rows"], f"{tag}: table rows {len(t)} != {manifest['table_rows']}")
    report.check(n_matched == manifest["matched"], f"{tag}: matched {n_matched} != {manifest['matched']}")
    report.check(n_req_only == manifest["request_only"],
                 f"{tag}: request-only {n_req_only} != {manifest['request_only']}")
    want = keys.map(manifest["msisdn"])
    bad = int((want.isna() | (want != matched["msisdn"])).sum())
    report.check(bad == 0, f"{tag}: {bad} matched rows with a wrong or missing msisdn")

    led = _read(os.path.join(out_dir, "ledger"), ["filename", "state", "processed", "not_processed"])
    led["name"] = led["filename"].map(os.path.basename)
    expect = {f["name"]: f["messages"] for f in manifest["files"] if f["messages"]}
    one_each = (sorted(led["name"]) == sorted(expect)) and (led["state"] == "processed").all()
    report.check(one_each, f"{tag}: ledger files/states {sorted(led['name'])} vs {sorted(expect)}")
    counts = dict(zip(led["name"], led["processed"]))
    ok = counts == expect and (led["not_processed"] == 0).all()
    report.check(ok, f"{tag}: ledger processed counts differ from the manifest")


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column order by name, comparable dtypes, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[ns]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            if s.map(lambda v: isinstance(v, (list, np.ndarray))).any():
                df[c] = s.map(lambda v: None if v is None else tuple(np.asarray(v).tolist()))
                continue
            try:
                num = pd.to_numeric(s)
            except (ValueError, TypeError):
                continue
            if pd.api.types.is_integer_dtype(num) or (num.dropna() % 1 == 0).all():
                df[c] = num.astype("Int64")
            else:
                df[c] = num.astype("float64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def check_query(report: Report, name: str, got: pd.DataFrame, expected_path: str) -> None:
    """Exact comparison with the oracle result (doubles bit for bit)."""
    want = pd.read_parquet(expected_path)
    if sorted(got.columns) != sorted(want.columns):
        report.check(False, f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        return
    if len(got) != len(want):
        report.check(False, f"{name}: rows {len(got)} != {len(want)}")
        return
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            same = np.array_equal(a[c].to_numpy(), b[c].to_numpy(), equal_nan=True)
        else:
            same = bool(((a[c] == b[c]) | (a[c].isna() & b[c].isna())).fillna(False).all())
        if not same:
            report.check(False, f"{name}: column {c!r} differs")
            return
    report.check(True, name)
