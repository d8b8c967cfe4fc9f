"""Seeded input generators, one per workload.

Every generator takes a ``random.Random`` built from the ``--seed``
argument, so the same seed gives byte-identical inputs. The program under
test only ever sees the files these functions write (or, for the
open-loop stream, the blocks the generator thread lands); the in-memory
rows they return are the benchmark's own reference for the output checks.
"""

from __future__ import annotations

import json
import math
import os
import string
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

# Export rows: one string partition key plus a nullable payload of every
# reference field type the JSON encoder distinguishes.
EXPORT_DDL = (
    "event_id bigint, region string, ts timestamp, value double, "
    "qty int, tag string, ok boolean"
)
EXPORT_TABLE = "EVENTS"
EXPORT_PARTITION_COL = "region"
PAYLOAD_FIELDS = ("event_id", "ts", "value", "qty", "tag", "ok")

# Partition values that the reference substitutes with the unspecified
# token: NULL, empty, spaces, a tab, and control-char-only strings (Java
# String.trim strips every char <= U+0020).
BLANK_KEYS = (None, "", "   ", "\t", "\x01\x02", " \x1f ")
TAGS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
ZONE_OFFSETS_MIN = (0, 60, -300, 330, 540, -600)
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
# 2026-01-01T00:00:00Z in microseconds; rows spread over the next 30 days
TS_BASE_US = 1_767_225_600_000_000
TS_RANGE_US = 30 * 86_400 * 1_000_000
# Partition-key cardinality and skew, and the NULL shares of keys and payload
N_KEYS = 100
ZIPF_S = 1.1
BLANK_SHARE = 0.04
NULL_SHARE = 0.1
EXPORT_PROPERTIES = {
    "keys": N_KEYS, "zipf_s": ZIPF_S, "blank_key_share": BLANK_SHARE, "null_share": NULL_SHARE,
}


@dataclass(frozen=True)
class ExportRow:
    event_id: int
    region: str | None
    ts_us: int
    zone_min: int
    value: float | None
    qty: int | None
    tag: str | None
    ok: bool | None


def _zipf_cum_weights(n_keys: int, s: float) -> list[float]:
    cum, total = [], 0.0
    for i in range(n_keys):
        total += 1.0 / (i + 1) ** s
        cum.append(total)
    return cum


def export_rows(rng, n_rows: int) -> list[ExportRow]:
    """Rows with a Zipf-skewed partition key, µs timestamps in mixed zone
    offsets and nullable payload columns. Doubles are multiples of 0.25
    below 1e6, so Java's and Python's shortest float text agree."""
    keys = [f"k{i:03d}" for i in range(N_KEYS)]
    cum = _zipf_cum_weights(N_KEYS, ZIPF_S)

    def maybe(v):
        return None if rng.random() < NULL_SHARE else v

    rows = []
    for i in range(n_rows):
        if rng.random() < BLANK_SHARE:
            region = rng.choice(BLANK_KEYS)
        else:
            region = rng.choices(keys, cum_weights=cum)[0]
        rows.append(
            ExportRow(
                event_id=i,
                region=region,
                ts_us=TS_BASE_US + rng.randrange(TS_RANGE_US),
                zone_min=rng.choice(ZONE_OFFSETS_MIN),
                value=maybe(rng.randrange(4_000_000) / 4),
                qty=maybe(rng.randrange(-1000, 1000)),
                tag=maybe(rng.choice(TAGS)),
                ok=maybe(rng.random() < 0.5),
            )
        )
    return rows


def iso_with_offset(ts_us: int, zone_min: int) -> str:
    """ISO-8601 with µs and an explicit zone offset. The export_blocks
    decoder rejects zone-less strings, so every block carries one."""
    tz = timezone(timedelta(minutes=zone_min))
    return (EPOCH + timedelta(microseconds=ts_us)).astimezone(tz).isoformat(
        timespec="microseconds"
    )


def block_line(row: ExportRow, rng) -> str:
    """One NDJSON line. A NULL payload field is sometimes written as JSON
    null and sometimes left out, so both absent-column paths run."""
    obj = {"event_id": row.event_id, "region": row.region}
    obj["ts"] = iso_with_offset(row.ts_us, row.zone_min)
    for name in ("value", "qty", "tag", "ok"):
        v = getattr(row, name)
        if v is not None or rng.random() < 0.5:
            obj[name] = v
    return json.dumps(obj)


def write_blocks(rng, rows: list[ExportRow], n_blocks: int, out_dir: str) -> list[str]:
    """Split rows into ``n_blocks`` NDJSON block files; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    per = math.ceil(len(rows) / n_blocks)
    paths = []
    for b in range(n_blocks):
        path = os.path.join(out_dir, f"block-{b:05d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            for row in rows[b * per:(b + 1) * per]:
                fh.write(block_line(row, rng) + "\n")
        paths.append(path)
    return paths


def block_texts(rng, rows: list[ExportRow], rows_per_block: int) -> list[tuple[list[int], str]]:
    """Pre-rendered stream blocks: (event ids, NDJSON text) per block."""
    out = []
    for b in range(0, len(rows), rows_per_block):
        chunk = rows[b:b + rows_per_block]
        text = "".join(block_line(r, rng) + "\n" for r in chunk)
        out.append(([r.event_id for r in chunk], text))
    return out


# --- llm_dedup corpus -----------------------------------------------------


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    near_clusters: list[list[int]]   # planted near-duplicate clusters (ids)
    exact_groups: list[list[int]]    # planted byte-identical copies (ids)


def _vocab(rng, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = rng.randint(3, 9)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(n)))
    return sorted(words)


NEAR_SHARE = 0.2
EXACT_SHARE = 0.05
MIN_WORDS, MAX_WORDS = 80, 120
VOCAB_SIZE = 4000
CORPUS_PROPERTIES = {
    "words_per_doc": f"{MIN_WORDS}-{MAX_WORDS}", "near_dup_share": NEAR_SHARE,
    "exact_dup_share": EXACT_SHARE,
}


def dedup_corpus(rng, n_docs: int) -> Corpus:
    """Random-word documents with planted duplicates.

    ``NEAR_SHARE`` of the docs belong to near-duplicate clusters of 2-4
    docs: a base text plus copies with ONE word replaced, so each copy has
    word-3-shingle Jaccard >= 0.92 with its base (>= 78 shingles, at most 3
    changed). ``EXACT_SHARE`` of the docs belong to byte-identical pairs.
    Unrelated docs share almost no shingles. Texts are lowercase words
    joined by single spaces, so the operators' normalisation is identity.
    """
    vocab = _vocab(rng, VOCAB_SIZE)
    texts: list[list[str]] = []
    near_idx: list[list[int]] = []
    exact_idx: list[list[int]] = []
    while len(texts) < n_docs:
        base = [rng.choice(vocab) for _ in range(rng.randint(MIN_WORDS, MAX_WORDS))]
        r = rng.random()
        if r < NEAR_SHARE:
            size = min(rng.randint(2, 4), n_docs - len(texts))
            group = [len(texts)]
            texts.append(base)
            for _ in range(size - 1):
                copy = list(base)
                copy[rng.randrange(len(copy))] = rng.choice(vocab)
                group.append(len(texts))
                texts.append(copy)
            if len(group) > 1:
                near_idx.append(group)
        elif r < NEAR_SHARE + EXACT_SHARE and n_docs - len(texts) >= 2:
            exact_idx.append([len(texts), len(texts) + 1])
            texts.extend([base, list(base)])
        else:
            texts.append(base)
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    docs = [(ids[i], " ".join(t)) for i, t in enumerate(texts)]
    return Corpus(
        docs=docs,
        near_clusters=[[ids[i] for i in g] for g in near_idx],
        exact_groups=[[ids[i] for i in g] for g in exact_idx],
    )


# --- ann_probe vectors ----------------------------------------------------


def vector_centres(rng, dim: int, n_clusters: int) -> list[list[float]]:
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)]


def clustered_vectors(
    rng, centres: list[list[float]], n: int, spread: float
) -> list[tuple[int, list[float]]]:
    """Gaussian blobs of width ``spread`` around the given centres."""
    n_clusters = len(centres)
    return [
        (
            i,
            [c + rng.gauss(0.0, spread) for c in centres[rng.randrange(n_clusters)]],
        )
        for i in range(n)
    ]
