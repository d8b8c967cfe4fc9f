"""Deduplication operators for LLM training-data pipelines
(SURVEY.md section 2.2 LLM-pipeline ops; BASELINE.json north star).

Four tiers, all shuffle-disciplined for 100 TB:

- exact:    hash-groupBy on a content fingerprint. One shuffle on a
            64-hex-char key; the canonical first pass.
- n-gram Jaccard: exact pairwise similarity via a shared-shingle inverted
            index — shuffles on shingle values, never materializes the
            full O(n^2) pair space. Hot ("stop") shingles are capped to
            bound worst-case fan-out.
- MinHash + LSH: the scale path. Fixed-size signatures (k 64-bit mins)
            replace shingle sets; banding buckets candidates so the join
            is on (band, band_hash) — sub-quadratic, tunable recall.
- SimHash:  a single integer fingerprint; near-dups differ in few bits.

All fingerprint math uses built-in JVM expressions (xxhash64/md5,
higher-order array functions) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-bucket pair-enumeration cap (round-15, guide §2.5 skew): an LSH
# bucket with more ids than this is split into sorted chunks and its
# pair grid is re-shuffled across tasks (see minhash_lsh_pairs) instead
# of enumerating the whole quadratic pair set inside ONE task's
# exploded array. 2048 ids = at most ~2M (doc_a, doc_b) structs per
# grid cell — comfortably one task's work — while real (non-degenerate)
# LSH buckets stay orders of magnitude below it, so the salted branch
# is empty on healthy corpora and costs only an empty exchange.
_BUCKET_PAIR_CAP = 2048


def normalized_text(col: F.Column | str) -> F.Column:
    """Canonical text normalization: lowercase + whitespace collapse."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def ensure_parallelism(df: DataFrame, min_factor: float = 1.0) -> DataFrame:
    """Spread CPU-bound per-row work across the cluster.

    Fingerprinting (shingles x 64 hashes) is compute-dominated: if the
    input arrives as a handful of small files, the stage inherits their
    partitioning and runs on a few cores. Repartitioning costs one cheap
    shuffle of the raw rows and unlocks full parallelism — at 100 TB the
    input is naturally wide and this becomes a no-op.
    """
    target = int(df.sparkSession.sparkContext.defaultParallelism * min_factor)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(col: F.Column | str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of the normalized text, as an array.

    Built from native array ops (sequence/transform/slice/array_join):
    no UDF, fully codegen'd.
    """
    toks = F.split(normalized_text(col), " ")
    ngrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(ngrams)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one keeper (min id) per normalized-content hash.

    Scale: a single shuffle on md5(normalized text); group state is one
    (min_id, count) pair per distinct document — the canonical 100 TB
    first-pass dedup.
    """
    return (
        df.withColumn("__fp", F.md5(normalized_text(text_col)))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keeper_doc_id", "n_copies")
    )


def shingle_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Inverted index: (id, shingle) pairs, one row per distinct shingle."""
    return df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via shared-shingle join.

    |A∩B| comes from counting co-occurring shingles; |A∪B| = |A|+|B|-|A∩B|.
    Only pairs sharing >=1 shingle are ever materialized, so the complexity
    is sum over shingles of freq^2, not n^2. At 100 TB, cap hot shingles
    with ``max_shingle_freq`` (drop stop-shingles: a shingle in millions of
    docs carries no dedup signal but dominates the join) — or switch to
    MinHash-LSH below.
    """
    df = ensure_parallelism(df)
    sh = shingle_index(df, text_col, id_col, n)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__f"))
        # anti-join against the HOT shingles, not semi-join against the
        # cold ones: the stop-list (freq > cap) is far smaller — at most
        # total_shingle_occurrences/cap entries — than the
        # vocabulary-sized cold set. That bound still grows linearly
        # with corpus size for a fixed cap, so no broadcast hint: AQE
        # picks broadcast vs shuffle from the measured size at runtime
        # (r7 driver advisory #4 — the hint would override the size
        # check exactly when the corpus outgrows it).
        sh = sh.join(
            freq.filter(F.col("__f") > max_shingle_freq), "shingle", "left_anti"
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("__shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("doc_b"), F.col("__sz").alias("__sz_b"))
    return (
        shared.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn(
            "jaccard",
            F.col("__shared")
            / (F.col("__sz_a") + F.col("__sz_b") - F.col("__shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures: num_hashes 64-bit minima over the shingle set.

    Hash family: xxhash64(seed_i || shingle) — deterministic, JVM-native,
    no Python. Signature is a fixed-size array column, so downstream LSH
    never touches the raw shingle sets (the point, at scale: a 1 MB
    document becomes 64 longs).
    """
    # NB: closure factory, not `lambda s, i=i: ...` — PySpark introspects a
    # defaulted second param as the (element, index) two-arg form and would
    # bind the array-index column over the captured seed.
    def seeded(i: int):
        seed = F.lit(i)
        return lambda h: F.xxhash64(h, seed)

    # Two materialization steps, both load-bearing for performance:
    # 1. the shingle array becomes a real column (inlining the expression
    #    tree into all num_hashes slots re-shingles the document once per
    #    hash function — measured 64x slowdown);
    # 2. each shingle STRING is hashed exactly once to a base long, and the
    #    num_hashes seeded functions hash (base, seed) pairs — fixed 12-byte
    #    input instead of re-hashing variable-length text 64 times.
    # (The classic (a*h+b) mod 2^64 permutation family would be cheaper
    # still, but ANSI mode — on by default and possibly on in the caller's
    # session — makes wrap-around multiplication throw.)
    # NULL text drops at the scan (round-9 all-NULL sweep): xxhash64 of
    # the NULL shingle is a non-NULL constant, so NULL-text docs would
    # all share one signature and emerge as a j=1.0 clique — while the
    # SQL shingle algebra NULL-propagates and emits nothing. A doc with
    # no content has nothing to be a duplicate OF; the DQ gate is where
    # NULL payloads get provenance, not the pair list.
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.transform(word_shingles(text_col), lambda s: F.xxhash64(s)).alias("__hs"),
    )
    sig = F.array(
        *[F.array_min(F.transform(F.col("__hs"), seeded(i))) for i in range(num_hashes)]
    )
    return base.select(F.col(id_col), sig.alias("signature"))


def oph_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> DataFrame:
    """One-permutation-hashing MinHash signatures (Li/Owen/Zhang, NIPS
    2012) with rotation densification (Shrivastava/Li, ICML 2014): ONE
    xxhash64 per shingle instead of ``num_hashes``.

    Each shingle hash h lands in bin pmod(h, num_hashes); the signature
    slot is the min h in its bin. An empty bin borrows the value of the
    next non-empty bin to its right (circularly) — each borrowed slot
    then agrees between two sets with probability ~ their Jaccard,
    independently enough per bin to preserve the banding collision
    analysis (a global-min fallback instead would correlate ALL
    jointly-empty bins into one agree/disagree coin flip and measurably
    lose borderline pairs — observed on the fixture).

    At corpus scale this is the headline dedup optimization: classic
    signatures cost |shingles| x num_hashes hash evaluations per document
    (the dominant term at 100 TB); OPH costs |shingles| hashes plus
    num_hashes integer compares. Same fixed-width signature contract as
    ``minhash_signatures``, so banding/verification are shared unchanged.
    """
    bins = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    # NULL text drops at the scan — same convention and reason as
    # minhash_signatures (round-9 all-NULL sweep)
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.transform(word_shingles(text_col), lambda s: F.xxhash64(s)).alias("__hs"),
    )
    # per-bin minima in ONE array traversal; NULL marks an empty bin
    binned = base.select(
        F.col(id_col),
        F.aggregate(
            F.col("__hs"),
            F.array_repeat(F.lit(None).cast("long"), num_hashes),
            lambda acc, h: F.zip_with(
                acc,
                bins,
                lambda v, i: F.when(
                    F.pmod(h, F.lit(num_hashes)) == i,
                    F.least(F.coalesce(v, F.lit(2**63 - 1)), h),
                ).otherwise(v),
            ),
        ).alias("__bins"),
    )
    # rotation densification: slot i takes the first non-null value at or
    # right of i in the doubled array (circular scan, pure array ops)
    doubled = binned.select(
        F.col(id_col), F.concat(F.col("__bins"), F.col("__bins")).alias("__d")
    )
    sig = F.transform(
        bins,
        lambda i: F.element_at(
            F.filter(
                F.slice(F.col("__d"), i + F.lit(1), num_hashes),
                lambda v: v.isNotNull(),
            ),
            1,
        ),
    )
    return doubled.select(F.col(id_col), sig.alias("signature"))


def banded_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows from a signature table.

    Band bucket = xxhash64 over the band's signature longs directly
    (multi-arg hash of fixed-width values — no per-band string building).
    Shared by the batch LSH join and the incremental-store path: a
    PERSISTED signature table banded with the same (num_hashes, bands)
    lands in the same buckets forever, which is what makes incremental
    dedup against a store sound.
    """
    r = num_hashes // bands
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("signature")[bi * r + j] for j in range(r)],
                            F.lit(bi),
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    oph: bool = False,
    bucket_pair_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    rows_per_band = num_hashes/bands; candidate probability for a pair at
    jaccard j is 1-(1-j^r)^b (b=16, r=4: j=0.8 -> 0.9998, j=0.3 -> 0.12).
    Candidates are then verified with exact shingle Jaccard, so false
    positives are eliminated; recall at the planted-duplicate level
    (j ~ 0.98) is 1 to ~18 significant digits.

    Scale shape: explode to (band_idx, band_hash, id) -> self-join on the
    bucket key -> distinct candidate pairs -> verify only those. No full
    pair space, no raw-shingle shuffle.

    ``oph=True`` swaps in one-permutation-hashing signatures
    (:func:`oph_minhash_signatures`) — ~num_hashes x less hashing per
    document, the 100 TB configuration; the verified output is identical
    whenever recall at the threshold is ~1 (both estimators' banding
    collision probability at planted-duplicate similarity rounds to 1).

    ``bucket_pair_cap`` (default ``_BUCKET_PAIR_CAP``) bounds how many
    ids one task may pair-enumerate from a single bucket; oversized
    (degenerate) buckets are salted across tasks with an identical
    resulting pair set — see the candidate-generation comment below.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) "
            "— trailing hash functions would be silently unused"
        )
    r = num_hashes // bands
    df = ensure_parallelism(df)
    sig_fn = oph_minhash_signatures if oph else minhash_signatures
    sigs = sig_fn(df, text_col, id_col, num_hashes)
    if not oph:
        # localCheckpoint the CLASSIC signature table only (round-14
        # interleaved A/B at sf0.1, min-of-3 each): the signature
        # pipeline feeds the candidate branch plus both verify legs, and
        # classic signatures cost |shingles| x num_hashes hashes per doc
        # — materializing the (id, 64-long) table once beat replaying it
        # (2.64 vs 3.18 s). OPH signatures are ~num_hashes x cheaper to
        # replay and the same A/B read the barrier as a net LOSS there
        # (1.86 vs 1.68 s), so OPH stays lazy. (Checkpointing the
        # CANDIDATE list instead was also measured slower either way —
        # the verify side then can't start scanning until the barrier.)
        sigs = sigs.localCheckpoint()
    banded = banded_buckets(sigs, id_col, num_hashes, bands)
    # Candidate pairs per bucket via ONE groupBy + in-JVM pair
    # enumeration (same shape as graph.cooccurrence_edges) instead of
    # the banded self-join: the self-join shuffled the exploded
    # (id, band, bucket) frame TWICE and joined; the groupBy shuffles it
    # once and emits ordered pairs from each bucket's sorted id array.
    # Round-14 interleaved A/B (sf0.1, min-of-3): classic 4.30 -> 3.18 s,
    # OPH 2.53 -> 2.23 s; verified outputs byte-identical. Per-bucket
    # work stays quadratic in bucket size — exactly the blowup the
    # self-join had (same key, same partition) — BUT the groupBy
    # formulation concentrates a degenerate bucket's whole quadratic
    # blowup in ONE task where the self-join at least spread its output
    # rows. Round-15 (guide §2.5 skew): buckets over ``bucket_pair_cap``
    # ids are SALTED — the sorted id array is cut into ceil(n/cap)
    # chunks, the upper-triangular chunk-pair grid (i <= j) is exploded
    # one row per cell and re-shuffled on (band, bucket, ci, cj), and
    # each cell enumerates at most cap^2 pairs in its own task. Slices
    # of one sorted array preserve the global order, so a diagonal cell
    # (ci == cj) reuses the ordered-pair enumeration and an off-diagonal
    # cell (ci < cj) emits ALL (x in a, y in b) combinations — x < y
    # holds by sortedness — making the union over cells EXACTLY the full
    # ordered enumeration (pinned by
    # test_lsh_oversized_bucket_salting_matches_unsalted). Healthy LSH
    # buckets are far below the cap, so the salted branch is empty and
    # costs one empty exchange. Memory is NOT linear in a degenerate
    # bucket: its whole cell grid (~(n/cap)^2 / 2 cells, each holding
    # two cap-id slices) is built inside ONE row before the explode, so
    # a bucket of n ids costs O(n^2/cap) ids (8 bytes each) in the one
    # pre-shuffle task that owns it — ~4 GB per band at n ~ 1M, cap 2048.
    cap = bucket_pair_cap if bucket_pair_cap is not None else _BUCKET_PAIR_CAP
    bucketed = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    small_pairs = (
        bucketed.filter(F.size("__ids") <= cap)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ids, (x, ix) ->"
                    " transform(slice(__ids, ix + 2, size(__ids)),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("__p")
        )
        .select("__p.doc_a", "__p.doc_b")
    )
    nc = f"cast(ceil(size(__ids) / {cap}.0d) as int)"
    cells = (
        bucketed.filter(F.size("__ids") > cap)
        .select(
            "band",
            "bucket",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {nc} - 1), i ->"
                    f" transform(sequence(i, {nc} - 1), j ->"
                    f" struct(i AS ci, j AS cj,"
                    f" slice(__ids, i * {cap} + 1, {cap}) AS a,"
                    f" slice(__ids, j * {cap} + 1, {cap}) AS b))))"
                )
            ).alias("__cell"),
        )
        .select("band", "bucket", "__cell.*")
        .repartition("band", "bucket", "ci", "cj")
    )
    diag_pairs = cells.filter(F.col("ci") == F.col("cj")).select(
        F.explode(
            F.expr(
                "flatten(transform(a, (x, ix) ->"
                " transform(slice(a, ix + 2, size(a)),"
                " y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("__p")
    ).select("__p.doc_a", "__p.doc_b")
    cross_pairs = cells.filter(F.col("ci") < F.col("cj")).select(
        F.explode(
            F.expr(
                "flatten(transform(a, x ->"
                " transform(b, y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("__p")
    ).select("__p.doc_a", "__p.doc_b")
    candidates = (
        small_pairs.unionByName(diag_pairs).unionByName(cross_pairs).distinct()
    )
    # exact-Jaccard verification on candidates only: cut the corpus down to
    # docs that appear in some candidate pair BEFORE shingling — the
    # broadcast semi-join filters at the scan, so shingle arrays are built
    # for a few hundred docs instead of the whole corpus (twice)
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    # bounded: LSH-candidate doc ids, O(surviving near-dup pairs) — orders below corpus size by construction
    needed = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    shsets = needed.select(
        F.col(id_col), word_shingles(text_col).alias("__shs")
    )
    sa = shsets.select(F.col(id_col).alias("doc_a"), F.col("__shs").alias("__shs_a"))
    sb = shsets.select(F.col(id_col).alias("doc_b"), F.col("__shs").alias("__shs_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__shs_a", "__shs_b"))
            / (
                F.size("__shs_a")
                + F.size("__shs_b")
                - F.size(F.array_intersect("__shs_a", "__shs_b"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprints over word tokens.

    Bit i of the fingerprint is the sign of sum over tokens of (+1 if bit i
    of the token hash is set else -1). Near-duplicate documents differ in
    few bits (compare with Hamming distance).

    The per-token bit source is hex digit i of md5(token) >= 8 (the high
    bit of each nibble) — chosen because md5 is identical across engines,
    making the whole operator reproducible anywhere (16 bits from 16
    nibbles). Tokens are weighted by occurrence count.
    """
    def nibble_vote(i: int):
        pos = i + 1
        return lambda acc, h: acc + F.when(
            F.substring(h, pos, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1
        ).otherwise(-1)

    # materialize token hashes once (see minhash_signatures: an inlined
    # expression tree would be recomputed per bit)
    df = ensure_parallelism(df).withColumn(
        "__tokmd5",
        F.transform(F.split(normalized_text(text_col), " "), lambda t: F.md5(t)),
    )
    tok_md5 = F.col("__tokmd5")
    bit_votes = [F.aggregate(tok_md5, F.lit(0), nibble_vote(i)) for i in range(bits)]
    fingerprint = None
    for i, vote in enumerate(bit_votes):
        term = F.when(vote > 0, F.lit(2 ** (bits - 1 - i))).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return df.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    The step every corpus dedup pipeline needs after pair generation:
    near-dup pairs form chains (A~B, B~C) and a keeper must be chosen per
    CLUSTER, not per pair — otherwise transitive duplicates survive.

    Min-label propagation: every node starts as its own label; each round
    a node takes the minimum label among itself and its neighbors. A
    driver-side loop runs aggregate-only actions (the per-round work is
    fully distributed — the driver sees one boolean per round), and
    ``localCheckpoint`` truncates the otherwise exponentially-growing
    lineage, the standard pattern for iterative DataFrame algorithms.

    Scale: rounds = O(component diameter). Near-dup clusters are shallow
    (dozens of docs, diameter a few hops), so this terminates in 2-4
    rounds at any corpus size; each round is one shuffle of the edge list.
    For adversarial long-chain graphs the doubling variant
    (large-star/small-star, Kiveris et al. 2014) drops rounds to
    O(log diameter) at the cost of edge rewrites — not needed for dedup
    graphs, documented here so the upgrade path is explicit.

    Returns (node, cluster_id): one row per node that appears in any
    pair; cluster_id is the smallest node id in the component.
    """
    half = pairs.select(
        F.col(left_col).alias("src"), F.col(right_col).alias("dst")
    )
    edges = (
        half.union(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # ONE join + ONE aggregation per round (round-14, guide §2.4):
        # the new label is min over {own label} ∪ {neighbor labels}, so
        # instead of (edges ⋈ labels → groupBy(src) min → LEFT JOIN back
        # onto labels) — which shuffled the corpus-sized label table a
        # second time every round — the own-label rows are UNIONed with
        # the neighbor-label fanout and one groupBy(node) takes the min.
        # The old label rides along as min(label WHERE own) (each node
        # contributes exactly one own row), which is what the carried
        # convergence flag compares against: __chg = new < old iff some
        # neighbor label was strictly smaller — the same condition the
        # old left-join formulation tested. Labels are unchanged
        # (A/B'd output-identical on the fixture; chain-graph pytest).
        own = labels.select("node", "label", F.lit(True).alias("__own"))
        nbr = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "label", F.lit(False).alias("__own")
        )
        new_labels = (
            own.union(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__own"), F.col("label"))).alias("__old"),
            )
            .select(
                "node",
                "label",
                (F.col("label") < F.col("__old")).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    else:
        # the loop exhausted with changes still happening in its LAST
        # round — but that round may itself have reached the fixed point
        # (convergence exactly at round max_iter has no confirmation
        # round). Run one extra stability check before deciding:
        final_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        still_changing = (
            labels.join(final_min, labels.node == final_min.src)
            .filter(F.col("nbr_label") < F.col("label"))
            .limit(1)
            .count()
        )
        if still_changing:
            # unconverged labels are silently WRONG (a long duplicate
            # chain would get split cluster_ids with no local symptom) —
            # fail loudly instead of returning them
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds; the graph has a component with diameter > "
                "max_iter — raise max_iter or switch to the "
                "large-star/small-star doubling variant documented above"
            )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def ngram_overlap(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    n-gram with a probe (benchmark/eval) set.

    Asymmetric by design — dedup asks "which corpus docs repeat EACH
    OTHER", decontamination asks "which corpus docs leak the EVAL set".
    The probe side is benchmark-sized (thousands of docs), so its
    distinct shingles broadcast; the corpus side streams through a
    broadcast semi-ish inner join with zero fact shuffle before the
    per-doc count. Returns (id, n_shared_ngrams) for hit documents only.
    """
    c_sh = corpus.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    p_sh = probes.select(
        F.explode(word_shingles(text_col, n)).alias("shingle")
    ).distinct()
    return (
        # bounded: probe-set shingles — benchmark/eval corpora are thousands of docs, not data-scaled
        c_sh.join(F.broadcast(p_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_shared_ngrams"))
    )


def incremental_minhash_pairs(
    stored_sigs: DataFrame,
    new_docs: DataFrame,
    all_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new document, against a signature store.

    The production dedup mode: the corpus's MinHash signatures are
    persisted once at ingest (``stored_sigs`` — (id, signature) rows,
    e.g. a parquet table); a daily increment only (1) signs the NEW
    docs, (2) bucket-joins the new side against store + new, (3)
    exact-verifies candidates. Cost per increment is
    O(new x bands + candidate pairs) — the full corpus is never
    re-shingled, re-signed, or self-joined again, which is the entire
    point at 100 TB. Old-old pairs are excluded by construction (the
    probe side is always new).

    ``all_docs`` supplies text for exact verification (store + new); at
    scale the verify join reads only candidate docs (broadcast semi-join
    pushdown, same as the batch path). Emits (doc_a, doc_b, jaccard)
    with doc_a < doc_b.
    """
    new_sigs = minhash_signatures(new_docs, text_col, id_col, num_hashes)
    all_banded = banded_buckets(
        stored_sigs.unionByName(new_sigs), id_col, num_hashes, bands
    )
    new_banded = banded_buckets(new_sigs, id_col, num_hashes, bands)
    a, b = new_banded.alias("a"), all_banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )
    return _verify_candidate_pairs(
        candidates, all_docs, text_col, id_col, threshold
    )


def _verify_candidate_pairs(
    candidates: DataFrame,
    all_docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidate pairs.

    Shared by every LSH pair generator: the candidate id set broadcasts
    as a semi-join filter so shingle arrays are built ONLY for docs that
    appear in some candidate pair, never for the whole corpus."""
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    # bounded: LSH-candidate doc ids, O(surviving near-dup pairs) — orders below corpus size by construction
    needed = all_docs.join(F.broadcast(cand_ids), id_col, "left_semi")
    shsets = needed.select(F.col(id_col), word_shingles(text_col).alias("__shs"))
    sa = shsets.select(F.col(id_col).alias("doc_a"), F.col("__shs").alias("__shs_a"))
    sb = shsets.select(F.col(id_col).alias("doc_b"), F.col("__shs").alias("__shs_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__shs_a", "__shs_b"))
            / (
                F.size("__shs_a")
                + F.size("__shs_b")
                - F.size(F.array_intersect("__shs_a", "__shs_b"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def persist_banded_store(
    sigs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    bucket_parts: int = 64,
) -> None:
    """Write the LSH bucket table as a PARTITIONED store: (id, band,
    bucket) rows laid out by ``bucket_part = pmod(bucket, bucket_parts)``.

    This is the storage layout that makes daily incremental dedup
    storage-pruned at corpus scale: an increment's buckets map to a
    subset of partitions, so the probe join reads only those directories
    instead of scanning the whole store (`tools/scale_probe.py
    --incremental` measures the unpartitioned variants; the partitioned
    store additionally prunes I/O). Written once at ingest; increments
    append their own buckets to keep the store current
    (``mode="append"`` with the same partitioning).

    The write ``repartition``s on ``bucket_part`` first (round-15, guide
    §6 small files): ``partitionBy`` alone makes EVERY write task open
    one file per partition value it holds — up to ``bucket_parts`` small
    files per task, O(tasks x bucket_parts) store files total, which at
    100 TB is a listing/open-overhead tax on every subsequent probe.
    After the shuffle each bucket_part value lives in exactly one task,
    so the store has ~1 data file per directory (asserted by
    tests/test_round15_opt.py). Costs one shuffle of the (id, band,
    bucket) rows at build time — the build is the amortized one-time
    path, the probe is the recurring one. NOTE: this changed the store's
    WRITE layout, so the scratch name was bumped (banded_store_v3) per
    the store-versioning convention — stale v2 trees are never read.
    """
    (
        banded_buckets(sigs, id_col, num_hashes, bands)
        .withColumn("bucket_part", F.pmod(F.col("bucket"), F.lit(bucket_parts)))
        .repartition("bucket_part")
        .write.mode("overwrite")
        .partitionBy("bucket_part")
        .parquet(path)
    )


def incremental_pairs_against_banded_store(
    spark,
    store_path: str,
    new_docs: DataFrame,
    all_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    bucket_parts: int = 64,
) -> DataFrame:
    """Near-dup pairs involving a new document, against a PERSISTED
    bucket-partitioned banded store (see :func:`persist_banded_store`).

    Differences from :func:`incremental_minhash_pairs` (signature store):
    the store is never re-banded (its (id, band, bucket) rows are read
    as-is — removes the O(store x bands) per-increment map work), and the
    increment's bucket partitions are computed first so the store scan
    carries a PARTITION filter — at 100 TB the probe reads only the
    directories the increment can collide with. Candidate semantics and
    exact verification are identical; equality with the batch-restricted
    answer is pinned in tests.
    """
    new_sigs = minhash_signatures(new_docs, text_col, id_col, num_hashes)
    # localCheckpoint: the increment-sized bucket frame ((new x bands)
    # rows of three longs) is read twice — once to derive the partition
    # filter, once as the probe side — and signature computation is the
    # increment's dominant cost; materializing it once keeps the whole
    # path O(increment), not O(2 x increment)
    new_banded = (
        banded_buckets(new_sigs, id_col, num_hashes, bands)
        .withColumn("bucket_part", F.pmod(F.col("bucket"), F.lit(bucket_parts)))
        .localCheckpoint()
    )
    # bounded collect: at most bucket_parts (<= O(100)) distinct values —
    # turned into a LITERAL partition filter so the store scan prunes
    # directories statically (no DPP reliance)
    parts = [
        r[0] for r in new_banded.select("bucket_part").distinct().collect()
    ]
    # explicit schema (the store's layout == the increment's banded
    # frame): a store persisted from an EMPTY corpus has no parquet
    # footers to infer from — partitionBy writes zero data files for
    # zero rows — and inference would crash where a day-zero store
    # must simply probe nothing (round-8 day-zero sweep). When footers
    # DO exist, the inferred name->type layout must match exactly:
    # parquet resolves by name, so an explicit schema over a drifted
    # layout would silently NULL-fill missing columns — and a same-name
    # TYPE drift (doc_id written int vs long) would defer to an opaque
    # runtime parquet error — instead of failing loudly here (r8 driver
    # advisory #5; type comparison added per r9 driver advisory #1).
    # (bucket_part is the partitionBy column: its read-back type is
    # re-inferred from directory STRINGS — an in-int-range value infers
    # IntegerType regardless of the writer frame's type — so it gets a
    # name-presence check only; data columns get the full type check)
    def _layout(schema):
        return {
            f.name: None if f.name == "bucket_part" else f.dataType
            for f in schema.fields
        }

    try:
        found = _layout(spark.read.parquet(store_path).schema)
    except Exception:  # noqa: BLE001 — day-zero store: nothing to infer
        found = None
    expected = _layout(new_banded.schema)
    if found is not None and found != expected:
        raise ValueError(
            f"banded store at {store_path} has column layout "
            f"{sorted((n, str(t)) for n, t in found.items())}, expected "
            f"{sorted((n, str(t)) for n, t in expected.items())} — "
            "rebuild the store (persist_banded_store) before probing"
        )
    store = (
        spark.read.schema(new_banded.schema).parquet(store_path)
        .where(F.col("bucket_part").isin(parts))
        .select(id_col, "band", "bucket", "bucket_part")
    )
    a = new_banded.alias("a")
    b = store.unionByName(new_banded).alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.bucket_part") == F.col("b.bucket_part"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )
    return _verify_candidate_pairs(
        candidates, all_docs, text_col, id_col, threshold
    )


def duplicate_token_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Exact substring (duplicated token-run) detection: for every document,
    the maximal token spans whose every ``window``-token run also appears in
    at least one OTHER document.

    This is the dedup granularity exact-match document dedup misses —
    boilerplate headers, license blocks, and templated passages embedded in
    otherwise-unique documents. The classic formulation builds a corpus
    suffix array; the distributed equivalent used here slides a fixed
    ``window``-token shingle over each document WITH its start offset,
    keeps shingles seen in >= 2 distinct documents, and merges the
    surviving overlapping intervals per document into maximal spans
    (gaps-and-islands over start offsets). A run of K >= window duplicated
    tokens yields K - window + 1 overlapping shingles that merge back into
    one span of exactly K tokens, so span boundaries are recovered exactly
    — no suffix array needed.

    Scale shape: the shingle explode is one narrow pass (offsets come from
    a per-row ``transform`` over ``sequence``, all JVM-side); the
    >= 2-distinct-docs filter is a shuffle keyed on the shingle text whose
    map-side partial aggregation reduces each task's output to its
    distinct shingle set; the island merge is a per-document window — the
    natural partitioning, no global sort anywhere. At 100 TB the
    duplicated-shingle set is the boilerplate vocabulary, orders of
    magnitude smaller than the corpus, and production deployments group on
    ``xxhash64(shingle)`` instead of the raw text to cut shuffle bytes
    (identical result modulo an astronomically unlikely collision; the raw
    text is kept here so the DuckDB oracle shares the exact key).

    Returns one row per document that contains at least one duplicated
    span: ``id_col``, ``n_dup_spans``, ``dup_tokens``, ``n_tokens``,
    ``dup_ratio``.
    """
    toks = F.split(normalized_text(text_col), " ")
    docs = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("__t"))
        .withColumn("n_tokens", F.size("__t"))
        .filter(F.col("n_tokens") >= window)
    )
    # one struct per shingle: 0-based start offset + the shingle text
    grams = docs.select(
        id_col,
        "n_tokens",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (window - 1)),
                lambda i: F.struct(
                    (i - 1).alias("s"),
                    F.array_join(F.slice("__t", i, window), " ").alias("g"),
                ),
            )
        ).alias("ps"),
    ).select(id_col, "n_tokens", F.col("ps.s").alias("s"), F.col("ps.g").alias("g"))
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("g")
    )
    marked = grams.join(dup, "g", "left_semi").select(id_col, "n_tokens", "s")
    w_doc = Window.partitionBy(id_col).orderBy("s")
    prev_end = F.max(F.col("s") + (window - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = marked.withColumn(
        "__new", F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0)
    ).withColumn(
        "__island",
        F.sum("__new").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy(id_col, "n_tokens", "__island").agg(
        F.min("s").alias("__st"),
        (F.max("s") + (window - 1)).alias("__en"),
    )
    return spans.groupBy(id_col, "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("__en") - F.col("__st") + 1).alias("dup_tokens"),
    ).select(
        id_col,
        "n_dup_spans",
        "dup_tokens",
        "n_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias("dup_ratio"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle CONTAINMENT (Broder):
    c(A in B) = |A ∩ B| / |A| over distinct word n-gram shingles.

    Jaccard misses the inclusion case on purpose: a short document fully
    quoted inside a much longer one has j = |A|/|B| ~ 0 but containment
    1.0. This operator emits exactly those directed relationships —
    excerpts, quoted posts, articles embedded in crawls — which a
    training-data pipeline wants to catch separately from symmetric
    near-dups (drop the contained copy, keep the superset document).

    Same inverted-index scale shape as ``ngram_jaccard_pairs``: shared
    counts come from the shingle-keyed self-join (sum over shingles of
    freq^2, never O(n^2) — cap hot shingles upstream for adversarial
    corpora), sizes from one per-doc aggregate. Each unordered pair is
    scored once and oriented: the side with the HIGHER containment (the
    smaller shingle set) is the inner document; exact ties orient to the
    lower id (a < b already).

    Returns ``inner_doc``, ``outer_doc``, ``inner_sz``, ``outer_sz``,
    ``containment`` (single exact-integer division, no float
    accumulation) for pairs with max-containment >= ``threshold``.
    """
    sh = shingle_index(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("doc_b"), F.col("__sz").alias("__sz_b"))
    scored = (
        shared.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "__sz_a",
            "__sz_b",
            (F.col("__shared").cast("double") / F.col("__sz_a")).alias("__c_ab"),
            (F.col("__shared").cast("double") / F.col("__sz_b")).alias("__c_ba"),
        )
    )
    a_inner = F.col("__c_ab") >= F.col("__c_ba")
    return scored.select(
        F.when(a_inner, F.col("doc_a")).otherwise(F.col("doc_b")).alias("inner_doc"),
        F.when(a_inner, F.col("doc_b")).otherwise(F.col("doc_a")).alias("outer_doc"),
        F.when(a_inner, F.col("__sz_a")).otherwise(F.col("__sz_b")).alias("inner_sz"),
        F.when(a_inner, F.col("__sz_b")).otherwise(F.col("__sz_a")).alias("outer_sz"),
        F.greatest(F.col("__c_ab"), F.col("__c_ba")).alias("containment"),
    ).filter(F.col("containment") >= threshold)
