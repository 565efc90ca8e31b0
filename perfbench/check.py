"""Correctness checks, run outside every timed span.

The final table must equal an independent replay of every generated event:
per url, the event with the greatest (warc_ts, event_id) wins, and a winning
delete leaves no row. The expected text/lang come from the pure-Python
reference ``ais_etl_spark.html.extract_text_lang_bytes`` applied to the
winner's html, so the Arrow UDF's output is checked byte for byte.

Both sides are compared per key and by an order-independent value hash (the
rule ``scripts/check_contract.py`` uses for the contract gates).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq

from ais_etl_spark.html import extract_text_lang_bytes

STATE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def load_check_contract(root: str):
    """``scripts/check_contract.py`` as a module (it is a script, not a
    package member)."""
    path = os.path.join(root, "scripts", "check_contract.py")
    spec = importlib.util.spec_from_file_location("check_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _micros(col: pa.ChunkedArray) -> list:
    return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64()).to_pylist()


def replay(segment_dirs: list[str]) -> dict[str, tuple]:
    """LWW over every event in the given feed segments, in any order.
    Returns url -> (warc_ts_us, html, text, lang) for live urls."""
    best: dict[str, tuple] = {}
    for d in segment_dirs:
        t = pq.read_table(d, columns=["event_id", "op", "url", "warc_ts", "html"])
        for eid, op, url, ts, html in zip(
            t.column("event_id").to_pylist(), t.column("op").to_pylist(),
            t.column("url").to_pylist(), _micros(t.column("warc_ts")),
            t.column("html").to_pylist(),
        ):
            cur = best.get(url)
            if cur is None or (ts, eid) > cur[0]:
                best[url] = ((ts, eid), op, html)
    out = {}
    for url, ((ts, _), op, html) in best.items():
        if op != "D":
            text, lang = extract_text_lang_bytes(html)
            out[url] = (ts, html, text, lang)
    return out


def table_state(table) -> dict[str, tuple]:
    """url -> (warc_ts_us, html, text, lang) of the table's current read()."""
    t = table.read().select(*STATE_COLS).toArrow()
    rows = zip(t.column("url").to_pylist(), _micros(t.column("warc_ts")),
               t.column("html").to_pylist(), t.column("text").to_pylist(),
               t.column("lang").to_pylist())
    out: dict[str, tuple] = {}
    dup = 0
    for url, ts, html, text, lang in rows:
        dup += url in out
        out[url] = (ts, html, text, lang)
    if dup:
        out["__duplicate_keys__"] = (dup, None, None, None)
    return out


def state_hash(cc, state: dict[str, tuple]) -> str:
    """Order-independent value hash; html enters by its md5 (the per-key
    comparison already compares the raw bytes)."""
    return cc.value_hash(STATE_COLS, [
        (url, ts, html and hashlib.md5(html).hexdigest(), text, lang)
        for url, (ts, html, text, lang) in state.items()
    ])


def compare(cc, expected: dict[str, tuple], actual: dict[str, tuple]) -> dict:
    """Per-key and hash comparison of two states."""
    diff = {"missing": 0, "extra": 0, "warc_ts": 0, "html": 0, "text": 0, "lang": 0}
    for url, exp in expected.items():
        act = actual.get(url)
        if act is None:
            diff["missing"] += 1
            continue
        for i, field in enumerate(("warc_ts", "html", "text", "lang")):
            diff[field] += exp[i] != act[i]
    diff["extra"] = sum(1 for url in actual if url not in expected)
    h_exp, h_act = state_hash(cc, expected), state_hash(cc, actual)
    return {
        "ok": h_exp == h_act and not any(diff.values()),
        "expected_hash": h_exp,
        "actual_hash": h_act,
        "live_rows": len(expected),
        "diff": diff,
    }


def check_table(cc, table, segment_dirs: list[str]) -> dict:
    """Replay oracle plus ``validate(full=True)`` for one table."""
    res = compare(cc, replay(segment_dirs), table_state(table))
    v = table.validate(full=True)
    res["validate_ok"] = bool(v["ok"])
    res["validate_issues"] = v["issues"][:5]
    res["ok"] = res["ok"] and res["validate_ok"]
    return res
