"""Build an ADVERSARIAL copy of a fixture dir and (optionally) run the
full oracle gate on it.

Motivation: round-5 advice found a real crash (ANSI INT32 overflow in the
quality classifier) that every fixture doc was too short to trigger. The
driver regenerates fixtures between rounds; this tool front-runs that
class of failure by appending edge-case rows the generator COULD
plausibly produce — empty/huge/unicode documents, single-row series,
zero vectors, >int32 keys, boundary prices/dates — while keeping every
original row (so fixture-shape properties queries rely on keep holding)
and preserving each file's exact parquet schema (pyarrow concat + cast;
a DuckDB rewrite would silently retype timestamps).

The oracle gate still applies unchanged on the hostile dir: both engines
read the SAME parquet, so any FAIL is a real cross-engine divergence or
crash — a latent bug, not fixture noise.

Deliberate boundary: values OUTSIDE the fixture domain contract (e.g.
event values >= 1e10 that overflow the pinned DECIMAL(12,2) arithmetic,
or NaN/Inf elements inside embedding vectors — probed round 7: DuckDB's
list_cosine_similarity CLAMPS a NaN input to -1.0 where Spark's
aggregate-expression dot product propagates NaN, so a NaN vector
diverges in any top-k ordering) are NOT laced in. The production
answer to out-of-domain corruption is quarantine-first data quality
(the scale_dq_checks operator), not try_cast scattered through every
statistic — a corrupted sensor value or non-finite embedding should be
*rejected with provenance*, not silently dropped per-query. Edge rows
here stay within the generator's plausible output domain (NULL
payloads are in-domain and laced; non-finite floats are not).

Second documented boundary (probed round 7, deliberately NOT laced):
locale-sensitive Unicode case mapping. Java/Spark lower('İ') is the
1-to-2 expansion 'i'+U+0307 while DuckDB yields 'i'; Java upper('ß')
is 'SS' while DuckDB yields U+1E9E 'ẞ'; Java upper('ﬁ') is 'FI',
DuckDB identity. The PRODUCT behavior (Java's) is well-defined and
correct — the divergence is an oracle-engine artifact, and pinning it
would entangle every DuckDB oracle with JVM locale tables for a
handful of codepoints. Verification runs on the shared case-mapping
domain; a production deployment that must byte-match across engines
pins an explicit fold (ICU or bytes-level) upstream, which is a
pipeline decision, not a per-query one.

Third documented boundary (probed round-7 wave 5, deliberately NOT
laced): JVM vs DuckDB double-to-text notation outside |x| in
[1e-3, 1e7). Java's Double.toString renders -3e-7 as '-3.0E-7';
DuckDB renders '-3e-7' — same shortest-round-trip digits, different
notation thresholds and exponent spelling. This only touches the R5
JSON-encode parity family, whose PRODUCT contract is byte-parity with
the Java reference: Spark's to_json runs the SAME JVM formatter, so
production parity holds at every magnitude by construction — the
divergence is purely the DuckDB oracle's formatter. Replicating Java
notation in SQL would also pin JDK-17's legacy shortest-digit
algorithm (changed in JDK 19, JDK-4511638), making the oracle
JVM-version-bound. Verification therefore runs on the shared notation
domain (the generator's observed [0.03, 327.53] value range sits well
inside it; hostile refund rows stay at cent granularity).

Fourth documented boundary (probed round 9): duplicate and NULL
doc_ids in documents. The byte-identical duplicate pair (doc 900016
below) IS laced and held — both engines compute the SAME answer over
it, so the gate stays green — but that shared answer can be
arithmetically WRONG: a duplicate row doubles shingle-multiset sizes,
and the exact-Jaccard statistic computes an impossible j=1.4 for a
true-0.75 pair, flipping it into the near-dup output on BOTH engines
at once (a distortion the cross-engine hash cannot see). NULL doc_ids
are silently invisible to every id-keyed dedup join, again on both
engines. Per-query "handling" would mean re-deciding multiplicity
semantics in a dozen operators; quarantine-first instead:
scale_dq_checks carries documents_duplicate_pk + documents_null_id
rules (positive-fire verified in tests/test_round9_ops.py;
documents_duplicate_pk fires on THIS fixture's laced pair with
matching counts), and corpora failing them are rejected with
provenance before dedup runs.

Fifth documented boundary (probed round 9, adjudicated round 10):
integer bucketing past 2^53. floor(k / width) * width computes through
DOUBLE division on both engines and their roundings DIVERGE for
k ~ 2^62 (probed: Spark ...99600 vs DuckDB ...99168 for
k = 2^62 + 12345, width 3600), while integer `div` / `%` / pmod stay
exact and identical at every magnitude. NOT laced, for the same reason
as the decimal-overflow class: every fixture key/value domain that
reaches a bucketing expression is <= ~1e12 (cents, epoch-SECONDS, token
counts — all inside the 2^53-exact window; epoch-ns converts via
integer `div 1000` at the loader and is never float-divided), so a
2^62-scale laced key would first hit the a*SCALE+b composite-key
packing sites, which OVERFLOW identically on both engines (ANSI long vs
DuckDB INT64 — a shared crash, quarantine class, not a divergence).
The convention for new code is a RULE, not a fixture row: bucket
integers with div/pmod, never floor(x/y), whenever the domain can
exceed 2^53. The standing static sweep is the enforcement point: every
current bucketing site was audited safe by value domain (receipts in
.claude/skills/verify/SKILL.md, commit 51bfc67).

Usage:
    python tools/make_hostile_fixture.py [src_sf_dir] [out_dir]
    python tools/check_oracle.py <out_dir> --hostile        # then sweep
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def _append(src: str, out: str, table_name: str, rows: list[dict]) -> None:
    t = pq.read_table(os.path.join(src, f"{table_name}.parquet"))
    schema = t.schema.remove_metadata()
    if rows:
        cols = {}
        for field in schema:
            cols[field.name] = pa.array(
                [r.get(field.name) for r in rows], type=field.type
            )
        extra = pa.table(cols, schema=schema)
        t = pa.concat_tables([t.replace_schema_metadata(None), extra])
    pq.write_table(t, os.path.join(out, f"{table_name}.parquet"))


def build(src: str, out: str) -> None:
    """Write the adversarial copy of ``src`` into ``out`` (importable
    entry point — ``check_oracle.py --hostile-fixture`` calls this)."""
    os.makedirs(out, exist_ok=True)

    from datetime import datetime

    BIG = 3_000_000_000  # > int32: every key path must be 64-bit clean

    _append(src, out, "documents", [
        # empty doc: every ratio/div feature must NULL, not crash
        dict(doc_id=900001, text="", lang="en", source="web", n_chars=0),
        # huge doc: >2148 alpha chars overflowed INT32 micro-units (r5 bug)
        dict(doc_id=900002, text="the quick brown fox jumps over it " * 300,
             lang="en", source="web", n_chars=10200),
        # single token, unseen lang/source values
        dict(doc_id=900003, text="word", lang="xx", source="srcnew", n_chars=4),
        # whitespace-only and padded text: trim/split edge cases
        dict(doc_id=900004, text="   \t\t  ", lang="en", source="web", n_chars=7),
        dict(doc_id=900005, text="  padded   runs\tof\twhitespace  ",
             lang="en", source="web", n_chars=31),
        # non-ascii tokens: regex [a-z] classes, length vs bytes
        dict(doc_id=900006, text="ünïcødé tökens repéat repéat",
             lang="de", source="web", n_chars=28),
        # NULL payload fields: a failed scrape yields NULL text, an
        # unclassified doc NULL lang/source — at corpus scale these
        # exist; every text/route expression must propagate NULL
        # identically on both engines, never crash
        dict(doc_id=900007, text=None, lang="en", source="web",
             n_chars=None),
        dict(doc_id=900008, text="orphan doc", lang=None, source=None,
             n_chars=10),
        # --- round-7 wave 4: line terminators + control whitespace.
        # Java regex '.' excludes \r and \n; RE2 '.' excludes only \n —
        # any DOTALL-free regexp over text with a bare \r diverges.
        # Java \s == [ \t\n\x0B\f\r]; the \x0B/\x0C rows probe every
        # whitespace-collapse and trim convention.
        dict(doc_id=900009,
             text="line one\r\nline two\rline three\nline four",
             lang="en", source="web", n_chars=38),
        dict(doc_id=900010, text="cells\tand\x0bvertical\x0cfeeds",
             lang="en", source="web", n_chars=25),
        # NBSP and zero-width space: not \s in either engine — must ride
        # through tokenization as ordinary characters identically
        dict(doc_id=900011,
             text="non\u00a0breaking\u200bspace words",
             lang="en", source="web", n_chars=24),
        # trailing line terminators: Java '$' matches BEFORE a final \n
        # by default, RE2 '$' only at absolute end \u2014 no registry regex
        # is anchored over text today (anchors only run on synthetic
        # URLs), but these rows make the standing gate catch the first
        # future one; they also stress trailing-token trim/split
        dict(doc_id=900012, text="ends with newline\n",
             lang="en", source="web", n_chars=18),
        dict(doc_id=900013, text="ends with crlf\r\n",
             lang="en", source="web", n_chars=16),
        # --- round-7 wave 5: astral-plane + combining-mark text. Probed
        # equal first (both engines are codepoint-based: length/substr/
        # regexp/reverse/split all agree on supplementary characters and
        # on NFD sequences — Spark's UTF8String walks UTF-8, DuckDB
        # walks codepoints); these rows keep that convention gated. The
        # ZWJ family emoji is 5 codepoints; the NFD 'cafe'+U+0301 is a
        # different string from NFC 'café' in BOTH engines (neither
        # normalizes — pinned, not folded).
        dict(doc_id=900014,
             text="emoji \U0001F980 crab \U0001F469\u200d\U0001F469\u200d\U0001F467 family",
             lang="en", source="web", n_chars=25),
        dict(doc_id=900015, text="cafe\u0301 nfd caf\u00e9 again",
             lang="fr", source="web", n_chars=20),
        # exact duplicate of an original-domain row shape (same doc_id,
        # same payload, written twice by an at-least-once upstream):
        # every dedup/count/top-k must treat the pair identically on
        # both engines — identical content makes tie picks content-
        # invariant, so results stay deterministic
        dict(doc_id=900016, text="retry wrote me twice", lang="en",
             source="web", n_chars=20),
        dict(doc_id=900016, text="retry wrote me twice", lang="en",
             source="web", n_chars=20),
        # --- round-8 wave 1: borderline-Jaccard pairs (r7 driver
        # advisory #1). llm_dedup_components/keep_canonical generate
        # candidate pairs via probabilistic banded OPH-LSH while their
        # oracle is the exhaustive exact-Jaccard CTE, so the gate rests
        # on LSH recall at the threshold. These rows make that
        # assumption a DETERMINISTIC gate: 900017~900018 is a prefix
        # pair at exact j = 41/51 = 0.8039 (just ABOVE the 0.8
        # threshold — banding must surface it or the hash gate fails),
        # 900019~900020 at j = 39/49 = 0.7959 (just BELOW — exact
        # verification must exclude it on both engines). Distinct
        # synthetic tokens keep their shingles disjoint from every
        # other document.
        dict(doc_id=900017,
             text=" ".join(f"b8a{i:02d}" for i in range(1, 44)),
             lang="en", source="web", n_chars=257),
        dict(doc_id=900018,
             text=" ".join(f"b8a{i:02d}" for i in range(1, 54)),
             lang="en", source="web", n_chars=317),
        dict(doc_id=900019,
             text=" ".join(f"c8a{i:02d}" for i in range(1, 42)),
             lang="en", source="web", n_chars=245),
        dict(doc_id=900020,
             text=" ".join(f"c8a{i:02d}" for i in range(1, 52)),
             lang="en", source="web", n_chars=305),
    ])

    mid = datetime(2024, 6, 15, 12, 0, 0)
    _append(src, out, "events", [
        # brand-new single-row series: every per-series stat must survive
        # n=1 (variance, CI, deciles, windows)
        dict(event_id=900001, ts=mid, user_id=0, event_type="rare",
             value=50.0, props="{}"),
        # extreme values on an existing series + exact duplicates (tie
        # handling in rank/row_number conventions)
        dict(event_id=900002, ts=mid, user_id=1, event_type="view",
             value=0.0, props="{}"),
        dict(event_id=900003, ts=mid, user_id=1, event_type="view",
             value=99999.99, props="{}"),
        dict(event_id=900004, ts=mid, user_id=2, event_type="view",
             value=42.42, props="{}"),
        dict(event_id=900005, ts=mid, user_id=2, event_type="view",
             value=42.42, props="{}"),
        # null props / empty props string
        dict(event_id=900006, ts=mid, user_id=3, event_type="click",
             value=1.0, props=None),
        # NULL measurement: sensor dropout — aggregates/windows must
        # skip it the same way on both engines (SQL NULL-ignoring
        # aggs), never turn it into 0 or crash
        dict(event_id=900007, ts=mid, user_id=1, event_type="view",
             value=None, props="{}"),
        # malformed JSON props: a broken upstream writer — JSON
        # extraction must yield NULL on both engines (Spark ANSI
        # parse_json raises, DuckDB json_extract raises), never crash
        dict(event_id=900008, ts=mid, user_id=3, event_type="click",
             value=2.0, props='{"k": 7'),
        # --- round-7 wave 4: zero-timespan series — a brand-new event
        # type whose FOUR rows share one timestamp (a burst logged with
        # second precision): every delta/rate/interpolation/window must
        # survive dt == 0, and rank/lag orderings need non-ts
        # tiebreakers to stay deterministic
        dict(event_id=900011, ts=mid, user_id=7, event_type="burst",
             value=1.0, props="{}"),
        dict(event_id=900012, ts=mid, user_id=7, event_type="burst",
             value=2.0, props="{}"),
        dict(event_id=900013, ts=mid, user_id=7, event_type="burst",
             value=3.0, props="{}"),
        # negative value (a refund): sqrt/log-domain and sign-sensitive
        # stats must agree on both engines
        dict(event_id=900014, ts=mid, user_id=7, event_type="burst",
             value=-5.0, props="{}"),
        dict(event_id=900015, ts=mid, user_id=2, event_type="view",
             value=-10.0, props="{}"),
        # degenerate-but-parseable JSON roots: empty string, JSON null
        # literal, empty array — extraction must NULL-propagate (not
        # crash, not mis-type) identically
        dict(event_id=900016, ts=mid, user_id=4, event_type="click",
             value=1.0, props=""),
        dict(event_id=900017, ts=mid, user_id=4, event_type="click",
             value=1.0, props="null"),
        dict(event_id=900018, ts=mid, user_id=4, event_type="click",
             value=1.0, props="[]"),
        # --- round-7 wave 5: a series whose values sum to EXACTLY ZERO
        # (offsetting charge/refund pairs — a settlement ledger shape
        # the generator's refund rows make plausible any round). Found
        # a real crash: ts_seasonal_profile divided by the zero series
        # mean (ANSI DIVIDE_BY_ZERO on Spark, inf on DuckDB); pinned
        # NULL via try_divide/nullif. The same wave probed the
        # signed-zero rounding gap with sub-cent magnitudes: Spark's
        # round() on DOUBLE goes through BigDecimal, which has no -0,
        # so round(-1e-7, 6) = +0.0, while DuckDB's round preserves
        # the sign bit (-0.0) and repr-based hashing renders them
        # differently. Oracles whose rounded DOUBLE outputs can be
        # tiny-negative pin +0.0 by appending `+ 0` after round()
        # (IEEE: -0.0 + 0 = +0.0; exact no-op on every other value).
        dict(event_id=900021, ts=datetime(2024, 6, 15, 13, 0, 0),
             user_id=9, event_type="settle", value=250.25, props="{}"),
        dict(event_id=900022, ts=datetime(2024, 6, 15, 14, 0, 0),
             user_id=9, event_type="settle", value=-250.25, props="{}"),
        dict(event_id=900023, ts=datetime(2024, 6, 15, 15, 0, 0),
             user_id=9, event_type="settle", value=0.01, props="{}"),
        dict(event_id=900024, ts=datetime(2024, 6, 15, 16, 0, 0),
             user_id=9, event_type="settle", value=-0.01, props="{}"),
        # --- round-7 wave 6: MISTYPED-but-valid props.k (a writer that
        # flips the field's type: numeric string, float, exp-notation,
        # boolean, non-numeric string, array). Found a real crash: BOTH
        # engines' typed extraction raised (Spark INVALID_VARIANT_CAST,
        # DuckDB VARCHAR->INT64 conversion error) on a string k. Pinned
        # conventions: variant INT cast = booleans 1/0, numerics
        # truncated toward zero, non-numerics NULL (try_variant_get /
        # bool-CASE + trunc + TRY_CAST); from_json IntegerType = JSON
        # integer tokens in int32 range only (json_type BIGINT/UBIGINT
        # guard). NOT laced (documented oracle boundaries, probed with
        # receipts): duplicate keys (variant rejects -> NULL, DuckDB
        # keeps first), integers beyond 2^53 (variant exact, DuckDB
        # double path rounds), sub-1e-3 doubles (JSON notation).
        dict(event_id=900025, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": "12"}'),
        dict(event_id=900026, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": 2.7}'),
        dict(event_id=900027, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": 1e3}'),
        dict(event_id=900028, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": true}'),
        dict(event_id=900029, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k":"café"}'),
        dict(event_id=900030, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": [1]}'),
        # --- round-8 wave 1: variant INT-cast boundary rows (r7 driver
        # advisory #2 + fresh engine probe). Pinned conventions, each
        # laced because a naive oracle silently diverges on it:
        # string 'true' is NOT boolean true (json_extract_string cannot
        # tell them apart; json_type BOOLEAN guard required — Spark
        # NULL); string '3.7' / '3e2' / '0x10' fail Spark's integral-
        # string parse where DuckDB TRY_CAST accepts the latter two
        # (VARCHAR arm = integral-decimal regex only); 'int' is 32-bit
        # so 2147483648 (numeric AND string) -> NULL on Spark where a
        # BIGINT oracle would keep it.
        dict(event_id=900081, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": "true"}'),
        dict(event_id=900082, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": "3.7"}'),
        dict(event_id=900083, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": "3e2"}'),
        dict(event_id=900084, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": "0x10"}'),
        dict(event_id=900085, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": 2147483648}'),
        dict(event_id=900086, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": "2147483648"}'),
        dict(event_id=900087, ts=mid, user_id=4, event_type="click",
             value=1.0, props='{"k": " +3 "}'),
        # HELD, probed round 8 (receipt, no lacing needed): NFC-vs-NFD
        # partition VALUES ('caf\xe9' vs 'café') round-trip
        # byte-exact through partitionBy dir names on Linux — two
        # distinct directories, two distinct groups on read-back, and
        # DuckDB GROUP BY agrees (both engines codepoint-based, same as
        # the wave-5 text result). Deployment caveat only: a macOS
        # HFS+/APFS filesystem would normalize the dir names and merge
        # the partitions — not reachable in this repo's Linux target.
        # NOT laced (round-8 probed boundary): DECIMAL-OVERFLOW values
        # (a corrupted value >= 1e10 overflows the DECIMAL(12,2) cast
        # every money/stat oracle uses for hash-stable sums). Probed:
        # BOTH engines crash with the same semantics (Spark
        # NUMERIC_VALUE_OUT_OF_RANGE, DuckDB Conversion Error) and both
        # yield NULL under TRY_CAST — a shared crash, not a
        # cross-engine divergence, so there is no convention to pin by
        # lacing; SUM itself widens precision (12,2 -> 22,2), so only
        # the per-row cast is exposed. The production posture is
        # quarantine-first: route out-of-domain values through a DQ
        # range rule before analytics, exactly like the existing
        # lineitem range rules in scale_dq_checks.
        # --- round-7 wave 7: NULL grouping/partition keys — anonymous
        # events (a logged-out session has no user_id; at corpus scale
        # these are a large, real traffic class). SQL conventions under
        # test: GROUP BY places all-NULL keys in ONE group (both
        # engines); window PARTITION BY does the same; joins on the key
        # DROP the rows (NULL never equals NULL); and — the latent
        # class this wave exists to catch — any ORDER BY over a
        # now-nullable key diverges unless NULLS LAST is pinned on both
        # sides (Spark ASC default is NULLS FIRST, DuckDB's NULLS
        # LAST). Distinct ts/values keep every tie-sensitive ordering
        # deterministic.
        dict(event_id=900031, ts=datetime(2024, 6, 15, 17, 0, 0),
             user_id=None, event_type="view", value=7.25, props="{}"),
        dict(event_id=900032, ts=datetime(2024, 6, 15, 18, 0, 0),
             user_id=None, event_type="view", value=9.75, props="{}"),
        dict(event_id=900033, ts=datetime(2024, 6, 15, 19, 0, 0),
             user_id=None, event_type="click", value=3.5,
             props='{"k": 4}'),
        # fully-anonymous row: BOTH dimension keys NULL — the grouping
        # lattice (rollup/cube/grouping sets) must keep data-NULL
        # distinguishable from subtotal-NULL via grouping_id on both
        # engines (probed with receipts since no registered lattice
        # query reads events: ROLLUP over ('a','a',NULL) yields the
        # identical (NULL, g=0, n=1) data row vs (NULL, g=1, n=3)
        # subtotal on BOTH engines)
        dict(event_id=900034, ts=datetime(2024, 6, 15, 20, 0, 0),
             user_id=None, event_type=None, value=1.25, props="{}"),
        # --- round-7 wave 8: clock corruption + key-domain edges.
        # epoch-zero ts: a device with an UNSET clock reports exactly
        # 1970-01-01T00:00:00 — the classic null-clock default. Every
        # epoch bucketing (floor(epoch/N)) must agree at 0; any
        # div-vs-floor or CAST-rounding slip shows here first.
        dict(event_id=900035, ts=datetime(1970, 1, 1, 0, 0, 0),
             user_id=12, event_type="view", value=2.0, props="{}"),
        # pre-epoch ts (negative epoch): corrupt parse/underflow. floor
        # on a negative epoch differs from toward-zero truncation by a
        # whole bucket — both engines must floor.
        dict(event_id=900036, ts=datetime(1969, 12, 31, 23, 30, 0),
             user_id=12, event_type="view", value=2.5, props="{}"),
        # int32-epoch rollover boundary (2038-01-19T03:14:08 = 2^31):
        # any 32-bit seconds handling wraps negative here.
        dict(event_id=900037, ts=datetime(2038, 1, 19, 3, 14, 8),
             user_id=12, event_type="view", value=3.0, props="{}"),
        # empty-string event_type: DISTINCT from the NULL group — "" is
        # a real value (broken enum serialization), groups/sorts as its
        # own key on both engines, and survives joins where NULL drops.
        dict(event_id=900038, ts=datetime(2024, 6, 15, 21, 0, 0),
             user_id=12, event_type="", value=4.0, props="{}"),
        # at-least-once delivery: the SAME event delivered twice —
        # byte-identical payload, duplicated event_id. Exactly-once
        # consumers (streaming dedup by event_id) must collapse it;
        # plain scans/aggregates must count both; any per-key arbitrary
        # pick stays content-invariant because the payloads are equal.
        dict(event_id=900039, ts=datetime(2024, 6, 15, 22, 0, 0),
             user_id=13, event_type="click", value=5.0,
             props='{"k": 7}'),
        dict(event_id=900039, ts=datetime(2024, 6, 15, 22, 0, 0),
             user_id=13, event_type="click", value=5.0,
             props='{"k": 7}'),
        # --- round-7 wave 9: sub-cent values (an upstream that emits
        # fractional aggregates) exercise the double->DECIMAL(12,2)
        # rounding mode every decimal-sum oracle depends on. Probed
        # EQUAL first (receipts): both engines round the shortest
        # decimal representation HALF-UP — 0.125 (exact binary tie)
        # -> 0.13, 1.005 (binary 1.00499..) -> 1.01, -0.125 -> -0.13.
        # Laced so all ~50 decimal-cast queries re-verify the mode on
        # every sweep instead of trusting the probe.
        dict(event_id=900040, ts=datetime(2024, 6, 16, 9, 0, 0),
             user_id=14, event_type="settle", value=0.125, props="{}"),
        dict(event_id=900041, ts=datetime(2024, 6, 16, 10, 0, 0),
             user_id=14, event_type="settle", value=1.005, props="{}"),
        dict(event_id=900042, ts=datetime(2024, 6, 16, 11, 0, 0),
             user_id=14, event_type="settle", value=-0.125, props="{}"),
        # nested-object props.k (one more mistyped-k shape): typed
        # extraction NULLs on both engines (non-integer token / OBJECT
        # json_type guard); string extraction returns the serialized
        # object identically. Probed equal, laced to stay held.
        dict(event_id=900043, ts=datetime(2024, 6, 16, 12, 0, 0),
             user_id=14, event_type="click", value=1.0,
             props='{"k":{"a":1}}'),
    ])

    dmin = datetime(1992, 1, 1)
    dmax = datetime(1998, 12, 31)
    _append(src, out, "orders", [
        # >int32 orderkey with matching lineitem rows below
        dict(o_orderkey=BIG, o_custkey=1, o_orderstatus="O",
             o_totalprice=0.01, o_orderdate=dmin, o_orderpriority="1-URGENT"),
        dict(o_orderkey=BIG + 1, o_custkey=BIG, o_orderstatus="F",
             o_totalprice=999999.99, o_orderdate=dmax,
             o_orderpriority="5-LOW"),
        # month-end date: add_months/INTERVAL clamping (Jan 31 + 1 month
        # = Feb 29 on a leap year, + 3 months = Apr 30) — probed equal
        # on both engines; this row keeps the clamping convention gated
        dict(o_orderkey=BIG + 2, o_custkey=1, o_orderstatus="O",
             o_totalprice=100.0, o_orderdate=datetime(1996, 1, 31),
             o_orderpriority="3-MEDIUM"),
        # --- round-7 wave 7: guest checkout — an order with NO customer
        # key. Joins to customer must drop it on both engines; any
        # customer-grain aggregation over orders gains a NULL group.
        dict(o_orderkey=BIG + 3, o_custkey=None, o_orderstatus="O",
             o_totalprice=55.5, o_orderdate=datetime(1995, 7, 4),
             o_orderpriority="2-HIGH"),
        # --- round-7 wave 8: sentinel "never" date — warehouses use
        # 9999-12-31 as the open-ended/unknown date. Every date
        # function (trunc/quarter/make_date/add_months/datediff) and
        # range filter must handle year 9999 identically; proleptic
        # Gregorian on both engines.
        dict(o_orderkey=BIG + 4, o_custkey=1, o_orderstatus="O",
             o_totalprice=77.0, o_orderdate=datetime(9999, 12, 31),
             o_orderpriority="5-LOW"),
    ])

    _append(src, out, "lineitem", [
        dict(l_orderkey=BIG, l_partkey=1, l_suppkey=1, l_linenumber=1,
             l_quantity=0.0, l_extendedprice=0.01, l_discount=0.0,
             l_tax=0.0, l_returnflag="N", l_linestatus="O",
             l_shipdate=dmin),
        dict(l_orderkey=BIG, l_partkey=1, l_suppkey=1, l_linenumber=2,
             l_quantity=50.0, l_extendedprice=99999.99, l_discount=0.1,
             l_tax=0.08, l_returnflag="R", l_linestatus="F",
             l_shipdate=dmax),
        # --- round-7 wave 7: ORPHAN lineitem — a child row whose parent
        # order never landed (failed backfill / partial load). Inner
        # joins to orders must drop it identically; lineitem-grain
        # scans/aggregates must still count it; anti-joins must surface
        # it on both engines. 100% discount makes its revenue
        # contribution exactly zero where it does survive a scan.
        dict(l_orderkey=BIG + 50, l_partkey=1, l_suppkey=1,
             l_linenumber=1, l_quantity=5.0, l_extendedprice=500.0,
             l_discount=1.0, l_tax=0.0, l_returnflag="N",
             l_linestatus="O", l_shipdate=datetime(1995, 7, 5)),
    ])

    _append(src, out, "customer", [
        dict(c_custkey=BIG, c_name="Customer#hostile", c_nationkey=0,
             c_acctbal=0.0, c_mktsegment="SEGNEW"),
        dict(c_custkey=BIG + 1, c_name="Customer#negative", c_nationkey=0,
             c_acctbal=-999.99, c_mktsegment="BUILDING"),
        # --- round-7 wave 7: customer whose nation enrichment failed —
        # NULL foreign key. Joins to nation drop the row; direct
        # customer-grain groupings gain a NULL nation group.
        dict(c_custkey=BIG + 2, c_name="Customer#nonation",
             c_nationkey=None, c_acctbal=123.45, c_mktsegment="BUILDING"),
        # --- round-7 wave 8: botched SCD merge — the SAME business key
        # twice with DIFFERENT attributes (both versions kept). Joins
        # fan out x2 identically on both engines; per-customer
        # aggregates absorb both rows; and any query that silently
        # assumes PK uniqueness via an arbitrary per-key pick diverges
        # here unless the pick is explicitly ordered.
        dict(c_custkey=BIG + 10, c_name="Customer#scd-v1",
             c_nationkey=1, c_acctbal=10.0, c_mktsegment="BUILDING"),
        dict(c_custkey=BIG + 10, c_name="Customer#scd-v2",
             c_nationkey=1, c_acctbal=20.0, c_mktsegment="MACHINERY"),
    ])

    _append(src, out, "part", [
        dict(p_partkey=BIG, p_name="hostile zero part", p_brand="Brand#99",
             p_type="TYPE NEW", p_size=0, p_retailprice=0.01),
    ])

    dim = 64
    _append(src, out, "embeddings", [
        # zero vector: norm 0 — every cosine must guard the division
        dict(vec_id=900001, embedding=[0.0] * dim, label=99),
        # constant vector and a large-magnitude vector
        dict(vec_id=900002, embedding=[1.0] * dim, label=99),
        dict(vec_id=900003, embedding=[1000.0] * 32 + [-1000.0] * 32, label=0),
        # NULL vector: a failed embedding job writes the row with no
        # payload; distance/similarity paths must NULL-propagate
        dict(vec_id=900004, embedding=None, label=None),
        # NOT laced (round-8 probed boundary): MIXED-DIMENSION vectors
        # (a truncated write, or a second embedding model). DuckDB's
        # list_cosine_similarity / list_inner_product RAISE
        # ("list dimensions must be equal") — a hard oracle-engine crash
        # for every oracle built on them — while list_zip/zip_with pad
        # NULL identically on both engines. The class is therefore
        # oracle-inexpressible here and is guarded in production code
        # instead: the DQ gate's embeddings_dim_mismatch rule fires —
        # pinned on a constructed mixed-dim corpus in
        # tests/test_round8_ops.py.
    ])

    for t in ("region", "nation", "supplier"):
        _append(src, out, t, [])

    print(f"hostile fixture written to {out}")


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/hostile_fixture"
    build(src, out)


if __name__ == "__main__":
    main()
