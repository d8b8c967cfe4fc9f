"""Pure-Python reference computations the output checks compare against.

They restate the reference conduit's contract independently of the
package: payload fields in schema order, NULLs emitted as JSON null,
timestamps as 'yyyy-MM-dd HH:mm:ss.SSS' in UTC truncated to ms, and
NULL / Java-trim-blank partition values replaced by the unspecified token.
"""

from __future__ import annotations

import json
from datetime import timedelta

from perfbench.inputs import EPOCH, PAYLOAD_FIELDS, ExportRow

UNSPECIFIED_TOKEN = "__VoltDB_unspecified__"
JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))


def partition_value(v: str | None) -> str:
    if v is None or v.strip(JAVA_TRIM_CHARS) == "":
        return UNSPECIFIED_TOKEN
    return v


def _ts_text(ts_us: int) -> str:
    dt = EPOCH + timedelta(microseconds=ts_us)
    return dt.strftime("%Y-%m-%d %H:%M:%S.") + f"{dt.microsecond // 1000:03d}"


def _json_value(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return json.dumps(v, ensure_ascii=False)


def payload(row: ExportRow) -> str:
    values = {
        "event_id": row.event_id,
        "ts": _ts_text(row.ts_us),
        "value": row.value,
        "qty": row.qty,
        "tag": row.tag,
        "ok": row.ok,
    }
    return "{" + ",".join(
        f'"{k}":{_json_value(values[k])}' for k in PAYLOAD_FIELDS
    ) + "}"


def routed(row: ExportRow) -> tuple[str, str]:
    """(partition value, JSON payload) as the conduit must write it."""
    return partition_value(row.region), payload(row)


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of an already-normalised text."""
    words = text.split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)
