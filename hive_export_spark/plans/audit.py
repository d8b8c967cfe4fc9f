"""Plan-property assertions over the executed (physical) plan string.

Used by tests/test_plans.py to pin the physical shapes that matter at
100 TB: filters reaching the parquet scan, column pruning in ReadSchema,
small dims broadcast, wide WholeStageCodegen spans. A plan regression
(e.g. a filter stuck above a join, a broadcast silently becoming a
sort-merge join) fails tests instead of surfacing as a slow cluster run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan as text (post-AQE initial plan included)."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan node advertises PushedFilters containing every
    fragment (e.g. column names of pushed predicates)."""
    plan = executed_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if not m:
        return False
    pushed = m.group(1)
    return all(f in pushed for f in fragments)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads — the column-pruning
    ground truth. Parsed from the FileScan output list (the ReadSchema
    struct is elided past ~100 chars in plan toString)."""
    plan = executed_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"FileScan \w+ \[([^\]]*)\]", plan):
        for field in m.group(1).split(","):
            name = field.strip().split("#")[0]
            if name:
                cols.append(name)
    return cols


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def scan_scale_killers(package_root: str) -> list[str]:
    """Static sweep of the package source for the anti-patterns that kill
    100 TB runs: driver-side ``.collect()`` on unbounded data,
    row-at-a-time Python UDFs (``F.udf``), non-broadcast ``crossJoin``,
    RDD drops, and ``toPandas``. Returns violations as
    ``"file:line: snippet"`` strings — a clean repo returns ``[]``.

    Every legitimate use must be allowlisted below BY STRIPPED LINE
    CONTENT (not line number, so unrelated edits don't churn the list;
    any change to the guarded line itself forces re-review here). This
    automates the per-round manual sweep: a new unguarded scale-killer
    fails tests the day it lands, not at the next audit.

    Allowlist discipline (round-6 hardening, extended round 7):
    - every entry carries a non-empty per-entry justification string —
      the scanner itself rejects an unjustified entry;
    - STALE entries (matching no current source line) are reported as
      violations, so the list cannot rot as code moves;
    - EVERY ``.crossJoin(X)`` — broadcast or not, single- or multi-line
      (continuation lines are flattened before matching, closing the
      round-6 gap where a multi-line chain left a bare ``.crossJoin(``
      line a generic allowlist key could sanction) — must have X visibly
      bounded in the flattened statement (an ``.agg(``/``.groupBy(``
      aggregate, a ``.limit(`` frame, or a literal ``.range(``) OR carry
      a ``# bounded:`` justification comment (why X is O(small) at any
      data scale) or an ``# oracle-twin:`` comment (X is data-sized ON
      PURPOSE: a fixture-scale exact verification twin whose production
      path is named in the comment) on the line above. There are no
      allowlist keys for crossJoin at all;
    - EVERY explicit ``F.broadcast(X)`` hint gets the SAME rule
      (round-6 verdict ask #4, generalized: join-arg position,
      leading position ``F.broadcast(X).join(...)``, and crossJoin-arg
      position are all one rule): an explicit hint overrides AQE's
      size-based choice, so X must be visibly bounded in the flattened
      statement or the line above must justify why X stays small at any
      data scale (``# bounded:``) / why a data-sized broadcast is the
      point (``# oracle-twin:``). A plain ``.join(X)`` is not policed —
      AQE decides there.
    - collect/toPandas/rdd allowlisting is STATEMENT-ANCHORED (round 12,
      r11 advisory #2): a single-line key must be distinctive (the
      scanner REJECTS keys that are just the bare policed call, e.g.
      ``.collect()`` — such a key silently sanctioned every future
      multi-line chain ending in that line); a multi-line chain is
      allowlisted by its EXACT flattened statement (strings blanked,
      spaces removed, comments dropped) in ``allowed_stmt`` below, so a
      new collect in the same file fails the audit instead of
      inheriting the waiver, and any edit to an allowlisted statement
      forces re-review here.
    """
    import os

    # (relpath, stripped-line) -> justification. Keep additions to one
    # per change with a real reason; the scanner enforces non-empty.
    allowed: dict[tuple[str, str], str] = {
        ('operators/ivf.py', 'short_rows = shortlist.limit(short_cap + 1).collect()'):
            "centroid-IVF rerank shortlist: <= queries x rerank (query_id, "
            "vec_id) rows, bounded by the limit + over-guard raise (r10 "
            "verdict nit #1); becomes the literal vec_id IN (...) pushed "
            "filter that prunes the exact tier's row groups",
        ('operators/scale.py', 'rows = spark.sql(f"DESCRIBE EXTENDED {table_name}").collect()'):
            "DESCRIBE EXTENDED catalog metadata, dozens of rows",
        ('sources/jdbc.py', 'row = bounds_df.collect()[0]'):
            "1-row min/max bounds for JDBC range partitioning",
        ('operators/kmeans.py', '(r["cluster_id"], list(r["centroid"])) for r in init_df.collect()'):
            "k-means init: k x dim centroid matrix, the documented bounded driver exchange of Lloyd's",
        ('operators/kmeans.py', 'for r in new_vecs.collect():'):
            "k-means|| oversampling round: exactly <= 2k rows via the "
            "Efraimidis-Spirakis top-(2k) limit in the same statement",
        ('operators/kmeans.py', 'sse = assignment.agg(F.sum("dist2")).collect()[0][0] or 0.0'):
            "k-means: one SSE scalar per iteration",
        ('operators/kmeans.py', 'for r in new_cent.collect()'):
            "k-means: k x dim updated centroids per iteration",
        ('operators/dedup.py', 'if df.rdd.getNumPartitions() < target:'):
            "partition-count metadata probe, not a data materialization",
        ('operators/dedup.py', 'r[0] for r in new_banded.select("bucket_part").distinct().collect()'):
            "bounded by bucket_parts (<= O(100)) distinct values; becomes the literal partition filter that prunes the banded-store scan",
        ('operators/ivf.py', 'q_rows = q.limit(max_query_rows + 1).collect()'):
            "centroid-IVF query-side collect, bounded by "
            "max_query_rows+1 via limit(); feeds the driver-side "
            "probe-pair ranking fast path (<= _DRIVER_PROBE_MAX_PAIRS) "
            "and the literal probed-query relation, replacing one "
            "crossJoin+window Spark job per probe (round-14 "
            "optimization; over-budget batches fall back to the "
            "distributed rank)",
    }
    # (relpath, EXACT flattened statement) -> justification, for
    # multi-line chains whose policed call sits on a bare continuation
    # line like ``.collect()``. Keys are the full statement — strings
    # blanked, spaces removed, comments dropped — so ANY other chain in
    # the same file fails the audit instead of inheriting the waiver
    # (r11 advisory #2: the old per-file '.collect()' keys sanctioned
    # every future bare-tail collect in those files). An unallowlisted
    # chain's violation message prints its computed key, so adding a
    # reviewed entry is copy-paste.
    allowed_stmt: dict[tuple[str, str], str] = {
        ('operators/ivf.py',
         'cent_rows=(spark.read.schema(_CENTROID_SCHEMA)'
         '.parquet(_centroids_path(index_path)).collect())'):
            "centroid-IVF: the k x dim centroid table — the module's "
            "documented bounded driver exchange (k ~ sqrt(N) stays ~32k "
            "even at 1e9 vectors), guarded BEFORE the collect by the "
            "_CENTROID_COLLECT_MAX_BYTES one-listing FS budget and after "
            "it by the 100k row raise; plain collect (one job) replaced "
            "the r10 limit(100_001) take-ramp, ~5 jobs per warm probe "
            "(round-14 optimization)",
        ('operators/ivf.py',
         'pairs=probe_pairs.limit(max_query_rows*eff_probe+1).collect()'):
            "centroid-IVF probe pairs: <= queries x min(nprobe, "
            "n_centroids) (query_id, cid) rows, bounded by the limit + "
            "over-guard raise (r10 advisory #3: per-query pair count is "
            "the effective probe width, not nprobe); becomes the literal "
            "partition filter that prunes the index scan; one job via "
            "_single_job_take (round-14)",
        ('operators/ivf.py',
         'return(spark.read.parquet(*dirs).select("","").collect())'):
            "ivf_maintain drift-flag scan: one multi-path read over the "
            "committed un-remedied append stats dirs — exactly one "
            "2-column row per append by _commit_append_stats "
            "construction (the receipt of one coalesce(1) write), and "
            "ONE job however many appends accumulated (r13 verdict "
            "ask #5)",
        ('operators/cdc.py',
         'dup=(updates.groupBy(key).count().filter(F.col("")>1)'
         '.limit(1).collect())'):
            "duplicate-key precondition probe: limit(1) frame, at most "
            "one row",
        ('operators/kmeans.py',
         'seed_rows=[(1,list(r[vec_col]))forrinv.withColumn("",'
         'F.md5(F.col(id_col).cast(""))).orderBy("",id_col)'
         '.limit(1).collect()]'):
            "k-means|| init: the limit(1) md5-ordered seed draw — one "
            "row by construction",
        ('operators/kmeans.py',
         'weights={r[""]:r[""]forrinassign_clusters(v,cand_df,'
         'id_col=id_col,vec_col=vec_col).groupBy("")'
         '.agg(F.count(F.lit(1)).alias("")).collect()}'):
            "k-means|| candidate weights: groupBy over candidate "
            "cluster ids — <= 1 + 2k*rounds groups, never corpus-sized",
    }
    # a single-line key that is nothing but the bare policed call is a
    # generic waiver — exactly the gap allowed_stmt closes; reject it
    _generic = {".collect()", ".toPandas()", ".rdd"}
    for _rel, line in allowed:
        if line in _generic:
            raise ValueError(
                f"generic allowlist key {line!r} for {_rel!r}: use an "
                "allowed_stmt entry keyed on the full flattened statement"
            )
    for key, why in list(allowed.items()) + list(allowed_stmt.items()):
        if not (isinstance(why, str) and why.strip()):
            raise ValueError(f"allowlist entry without justification: {key}")
    patterns = (
        re.compile(r"\.collect\(\)"),
        re.compile(r"\bF\.udf\(|functions\.udf\(|@udf\b"),
        re.compile(r"\.toPandas\(\)"),
        re.compile(r"\.rdd\b"),
    )
    # X is visibly bounded ONLY when the flattened statement shows a
    # limited frame or a literal small range. Aggregates are NOT
    # self-evidently bounded (r7 driver advisory #3): a groupBy over a
    # high-cardinality key (per-shingle frequencies, per-doc stats) is
    # data-sized even though it ends in .agg(...) — exactly the class
    # the r7 broadcast-police sweep removed — so aggregate-valued
    # broadcast/crossJoin args need a reviewed '# bounded:' comment
    # stating WHY the group count is small.
    _BOUNDED_MARKS = (".limit(", ".range(")

    def paren_arg(flat: str, open_idx: int) -> str:
        """Argument text inside the paren opening at ``open_idx`` of the
        flattened statement (balanced-paren scan; tolerant of an
        unclosed tail when the lookahead window ran out)."""
        depth = 0
        for i in range(open_idx, len(flat)):
            if flat[i] == "(":
                depth += 1
            elif flat[i] == ")":
                depth -= 1
                if depth == 0:
                    return flat[open_idx + 1 : i]
        return flat[open_idx + 1 :]

    def _strip_strings_and_comment(s: str) -> str:
        """Blank out string-literal contents and drop any trailing
        comment — a ')' or bounded-mark inside a literal, or a '#'
        inside a string, must not confuse the balanced-paren scan
        (r7 driver advisory #3). Quote state is per-line, which is
        exact for the audited sources (no multi-line strings inside
        broadcast/crossJoin statements)."""
        out: list[str] = []
        quote: str | None = None
        i = 0
        while i < len(s):
            ch = s[i]
            if quote is not None:
                if ch == "\\":
                    i += 2
                    continue
                if ch == quote:
                    quote = None
                    out.append(ch)
                i += 1
                continue
            if ch in "'\"":
                quote = ch
                out.append(ch)
            elif ch == "#":
                break
            else:
                out.append(ch)
            i += 1
        return "".join(out)

    def flat_statement(lines: list[str], idx: int, lookahead: int = 40) -> str:
        """The matched physical line plus its continuation lines, joined
        with whitespace, trailing comments, and string-literal contents
        removed — so a chain split across lines is matched as one
        statement and literals can't spoof or hide a mark."""
        out: list[str] = []
        for ln in lines[idx : idx + lookahead]:
            s = ln.strip()
            if s.startswith("#"):
                continue
            out.append(_strip_strings_and_comment(s).replace(" ", ""))
        return "".join(out)

    def broadcast_bounded(arg: str) -> bool:
        """True when ``arg`` (the text inside crossJoin(...)/join(...))
        is visibly bounded — directly, or inside its F.broadcast(...)."""
        if arg.startswith("F.broadcast("):
            arg = paren_arg(arg, len("F.broadcast"))
        return any(m in arg for m in _BOUNDED_MARKS)

    import ast

    def stmt_key(lines: list[str], spans: list[tuple[int, int]], lineno: int) -> str:
        """The EXACT flattened statement containing ``lineno`` (1-based):
        the smallest ast.stmt span covering the line, its lines joined
        with comments dropped, string contents blanked, spaces removed —
        the allowed_stmt key format. ast (not paren counting) so
        docstrings with prose brackets cannot skew statement bounds."""
        best: tuple[int, int, int] | None = None
        for a, b in spans:
            if a <= lineno <= b:
                d = b - a
                if best is None or d < best[0]:
                    best = (d, a, b)
        a, b = (best[1], best[2]) if best else (lineno, lineno)
        out: list[str] = []
        for ln in lines[a - 1 : b]:
            s = ln.strip()
            if s.startswith("#"):
                continue
            out.append(_strip_strings_and_comment(s).replace(" ", ""))
        return "".join(out)

    violations: list[str] = []
    used: set[tuple[str, str]] = set()
    used_stmt: set[tuple[str, str]] = set()
    for dirpath, _dirnames, filenames in os.walk(package_root):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, package_root).replace(os.sep, "/")
            if rel == "plans/audit.py":  # the scanner's own allowlist
                continue
            with open(path, encoding="utf-8") as fh:
                lines = fh.readlines()
            try:
                spans = [
                    (n.lineno, n.end_lineno or n.lineno)
                    for n in ast.walk(ast.parse("".join(lines)))
                    if isinstance(n, ast.stmt)
                ]
            except SyntaxError:
                spans = []
            prev = ""
            for lineno, line in enumerate(lines, 1):
                stripped = line.strip()
                if stripped.startswith("#"):
                    prev = stripped
                    continue
                justified = prev.startswith("# bounded:") or prev.startswith(
                    "# oracle-twin:"
                )
                head = stripped.replace(" ", "")
                flat = None
                # rule 1: every crossJoin, matched on the flattened
                # statement so multi-line chains can't dodge the sweep
                for m in re.finditer(r"\.crossJoin\(", head):
                    flat = flat or flat_statement(lines, lineno - 1)
                    if broadcast_bounded(paren_arg(flat, m.end() - 1)) or justified:
                        continue
                    violations.append(
                        f"{rel}:{lineno}: crossJoin with no visibly-bounded "
                        f"argument and no '# bounded:'/'# oracle-twin:' "
                        f"justification: {stripped}"
                    )
                # rule 2: every explicit broadcast hint gets the same
                # discipline — the hint overrides AQE's size check —
                # regardless of position (join arg, leading frame,
                # crossJoin arg)
                for m in re.finditer(r"\bF\.broadcast\(", head):
                    flat = flat or flat_statement(lines, lineno - 1)
                    arg = paren_arg(flat, m.end() - 1)
                    if any(b in arg for b in _BOUNDED_MARKS) or justified:
                        continue
                    violations.append(
                        f"{rel}:{lineno}: F.broadcast(...) hint with "
                        f"no visibly-bounded argument and no "
                        f"'# bounded:'/'# oracle-twin:' justification: "
                        f"{stripped}"
                    )
                for pat in patterns:
                    if not pat.search(stripped):
                        continue
                    if (rel, stripped) in allowed:
                        used.add((rel, stripped))
                        continue
                    skey = (rel, stmt_key(lines, spans, lineno))
                    if skey in allowed_stmt:
                        used_stmt.add(skey)
                        continue
                    violations.append(
                        f"{rel}:{lineno}: {stripped} "
                        f"(statement key: {skey[1]!r})"
                    )
                prev = stripped
    stale = set(allowed) - used
    violations.extend(
        f"STALE allowlist entry (matches no source line, remove it): {k}"
        for k in sorted(stale)
    )
    stale_stmt = set(allowed_stmt) - used_stmt
    violations.extend(
        f"STALE allowed_stmt entry (matches no current statement, "
        f"remove or re-key it): {k}"
        for k in sorted(stale_stmt)
    )
    return violations


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — fewer, wider spans mean more
    of the query runs as fused generated code."""
    plan = executed_plan(df)
    # plan toString marks codegen'd operators as "*(id)"; formatted explain
    # spells out "WholeStageCodegen (id)" — accept both
    ids = re.findall(r"\*\((\d+)\)", plan) + re.findall(
        r"WholeStageCodegen \((\d+)\)", plan
    )
    return len(set(ids))
