"""The LLM-data workload, ``llm_dedup_ann``: an IVF index build, then a
closed loop of single-query and batched probes against the index; in
traced runs, then one pass of the curation chain over a corpus with
planted duplicates. Both parts share one Spark session because a cold set-up
costs ~11 s on a 4-core box; two workloads would pay it twice. A
curation pass is ~15 s of Spark jobs, so one run holds one sample of it:
too few for a metric of record, so untraced runs leave it out (see
perfbench/README.md)."""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass

from perfbench import reference
from perfbench.harness import Outcome, median, noop_write
from perfbench.inputs import CORPUS_PROPERTIES, clustered_vectors, dedup_corpus, vector_centres

DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<double>"
QUERY_SCHEMA = "query_id long, embedding array<double>"
LSH_THRESHOLD = 0.8          # minhash_lsh_pairs default
RECALL_FLOOR = 0.95
K = 10
# Lloyd iterations of the build (the default is 5): the build is a fixed
# cost of the run, not a metric of record, and two iterations already find
# the planted clusters (recall 1.0)
BUILD_ITERATIONS = 2
SINGLES_PER_ROUND = 2
MIN_ROUNDS = 2


def _write_ndjson(path: str, rows: list[dict], n_files: int) -> None:
    os.makedirs(path)
    for f in range(n_files):
        with open(os.path.join(path, f"part-{f:03d}.json"), "w", encoding="utf-8") as fh:
            for row in rows[f::n_files]:
                fh.write(json.dumps(row) + "\n")


def llm_dedup_ann(ctx) -> Outcome:
    """The IVF build, then rounds of two single-query probes and one
    batched probe, so that both probe metrics sample the whole measured
    window; in traced runs, then one curation pass."""
    out = Outcome()
    # the build goes first and warms the JVM and the Python workers for
    # everything after it
    index = _build_index(ctx, out)
    ann_layers = _probe(ctx, out, index) if index else dict
    dedup_layers = _dedup(ctx, out) if ctx.tracer.enabled else dict
    if ctx.tracer.enabled:
        ctx.layer_probe = lambda: {**dedup_layers(), **ann_layers()}
    return out


# --- curation: quality -> exact dedup -> MinHash-LSH -> components -------------


def _expected_dedup(corpus):
    """Reference answer: keeper (min id) per distinct text, and each
    planted near-duplicate cluster mapped onto its keepers."""
    by_text = defaultdict(list)
    for doc_id, text in corpus.docs:
        by_text[text].append(doc_id)
    keeper_of = {}
    exact = {}
    for ids in by_text.values():
        keeper = min(ids)
        keeper_of.update({i: keeper for i in ids})
        if len(ids) > 1:
            exact[keeper] = len(ids)
    clusters = []
    for members in corpus.near_clusters:
        keepers = frozenset(keeper_of[i] for i in members)
        if len(keepers) > 1:
            clusters.append(keepers)
    return exact, clusters


def _check_dedup(texts, expected, groups, pairs, comps) -> list[str]:
    exact, clusters = expected
    problems = []
    got_exact = {r["keeper_doc_id"]: r["n_copies"] for r in groups if r["n_copies"] > 1}
    if got_exact != exact:
        problems.append(f"exact_dedup: {len(got_exact)} copy groups, expected {len(exact)}")
    if sum(r["n_copies"] for r in groups) != len(texts):
        problems.append("exact_dedup: copies do not add up to the corpus")
    for p in pairs:
        j = reference.jaccard(texts[p["doc_a"]], texts[p["doc_b"]])
        if j < LSH_THRESHOLD or abs(j - p["jaccard"]) > 1e-9:
            problems.append(f"pair {p['doc_a']}-{p['doc_b']}: jaccard {p['jaccard']} vs {j}")
            break
    component = defaultdict(set)
    for r in comps:
        component[r["cluster_id"]].add(r["node"])
    label = {n: c for c, nodes in component.items() for n in nodes}
    missed = [c for c in clusters if len({label.get(i) for i in c}) != 1 or None in {label.get(i) for i in c}]
    if missed:
        problems.append(f"{len(missed)} of {len(clusters)} planted clusters not recovered")
    planted = {i for c in clusters for i in c}
    merged = [nodes for nodes in component.values() if not any(nodes <= c for c in clusters)]
    if merged or not set(label) <= planted:
        problems.append(f"{len(merged)} components merge unrelated documents")
    return problems


def _dedup(ctx, out: Outcome):
    """One pass of quality_score -> exact_dedup -> minhash_lsh_pairs ->
    connected_components, checked against the planted duplicates, then the
    calls only the per-layer metrics need; returns the per-layer probe."""
    from hive_export_spark.operators.dedup import (
        banded_buckets,
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from hive_export_spark.operators.text import quality_score

    spark, tracer = ctx.spark, ctx.tracer
    n_docs = 200 if ctx.smoke else 600
    corpus = dedup_corpus(ctx.rng, n_docs)
    path = os.path.join(ctx.work_dir, "corpus")
    _write_ndjson(path, [{"doc_id": i, "text": t} for i, t in corpus.docs], 4)
    texts = dict(corpus.docs)
    expected = _expected_dedup(corpus)
    out.info["dedup_input"] = {
        "docs": n_docs, **CORPUS_PROPERTIES, "near_clusters": len(corpus.near_clusters),
        "exact_groups": len(corpus.exact_groups),
    }
    out.attempted += 1
    try:
        t0 = time.perf_counter()
        docs = spark.read.schema(DOC_SCHEMA).json(path)
        with tracer.span("operators.text.quality_score"):
            scored = quality_score(docs).select("doc_id", "text", "quality_score")
            scored = scored.localCheckpoint()
        with tracer.span("operators.dedup.exact_dedup"):
            groups = exact_dedup(scored).collect()
        keepers = spark.createDataFrame([(r["keeper_doc_id"],) for r in groups], "doc_id long")
        uniq = scored.join(keepers, "doc_id")
        with tracer.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(uniq).collect()
        edges = spark.createDataFrame(
            [(p["doc_a"], p["doc_b"]) for p in pairs], "doc_a long, doc_b long"
        )
        with tracer.span("operators.dedup.connected_components"):
            comps = connected_components(edges).collect()
        seconds = time.perf_counter() - t0
    except Exception as exc:
        out.fail(f"curation: {exc!r}")
        return dict
    for problem in _check_dedup(texts, expected, groups, pairs, comps):
        out.fail(f"curation: {problem}")
    out.info["dedup_docs_per_s"] = n_docs / seconds

    with tracer.span("operators.dedup.minhash_signatures"):
        noop_write(minhash_signatures(uniq))
    banded = banded_buckets(minhash_signatures(uniq), "doc_id", 64, 16)
    a, b = banded.alias("a"), banded.alias("b")
    bucket_pairs = (
        a.join(b, ["band", "bucket"])
        .where("a.doc_id < b.doc_id")
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )

    def layers() -> dict[str, float]:
        def med(name):
            return median(s.seconds for s in tracer.named(name))

        return {
            "operators.text.quality_s": med("operators.text.quality_score"),
            "operators.dedup.exact_s": med("operators.dedup.exact_dedup"),
            "operators.dedup.signature_s": med("operators.dedup.minhash_signatures"),
            "operators.dedup.lsh_pairs_s": med("operators.dedup.minhash_lsh_pairs"),
            "operators.dedup.components_s": med("operators.dedup.connected_components"),
            "operators.dedup.bucket_pairs": bucket_pairs,
            "operators.dedup.verified_frac": len(pairs) / bucket_pairs if bucket_pairs else 1.0,
        }

    return layers


# --- ANN: IVF build, then single and batched probes -------------------------------


@dataclass
class _Index:
    path: str
    vectors: object            # DataFrame the index was built from
    queries: list
    batch: int
    t_start: float
    train_end: float
    t_end: float


def _build_index(ctx, out: Outcome) -> _Index | None:
    """One ``build_ivf_centroid_index`` over seeded clustered vectors."""
    from hive_export_spark.operators.ivf import build_ivf_centroid_index

    spark, tracer = ctx.spark, ctx.tracer
    n_vec, n_queries, batch = (300, 16, 4) if ctx.smoke else (1000, 64, 16)
    dim, n_clusters, spread = 32, 16, 0.35
    centres = vector_centres(ctx.rng, dim, n_clusters)
    vectors = clustered_vectors(ctx.rng, centres, n_vec, spread)
    queries = clustered_vectors(ctx.rng, centres, n_queries, spread)
    vec_path = os.path.join(ctx.work_dir, "vectors")
    _write_ndjson(vec_path, [{"vec_id": i, "embedding": v} for i, v in vectors], 4)
    path = os.path.join(ctx.work_dir, "index")
    out.info["ann_input"] = {
        "vectors": n_vec, "dim": dim, "clusters": n_clusters, "spread": spread,
        "queries": n_queries, "batch": batch,
    }
    vec_df = spark.read.schema(VEC_SCHEMA).json(vec_path)

    steps = []
    out.attempted += 1
    try:
        with tracer.span("operators.ivf.build_ivf_centroid_index"):
            t0 = time.perf_counter()
            build_ivf_centroid_index(
                vec_df, path, max_iter=BUILD_ITERATIONS,
                on_step=lambda: steps.append(time.perf_counter()),
            )
            t_end = time.perf_counter()
    except Exception as exc:
        out.fail(f"build: {exc!r}")
        return None
    out.info["ann_build_s"] = t_end - t0
    # on_step fires first when k-means training ends; the tier writes follow
    return _Index(path, vec_df, queries, batch, t0, steps[0] if steps else t_end, t_end)


def _probe(ctx, out: Outcome, index: _Index):
    """An untimed warm-up round, then rounds of ``SINGLES_PER_ROUND``
    single-query ``ivf_centroid_topk`` calls and one batched call for
    ``ctx.seconds`` (at least ``MIN_ROUNDS``), then recall of every probed
    query against ``brute_force_topk``. Sets latency_p50_ms (single query)
    and throughput_per_s (queries/s of batched calls); returns the
    per-layer probe."""
    from hive_export_spark.operators.ivf import ivf_centroid_topk
    from hive_export_spark.operators.similarity import brute_force_topk

    spark, tracer = ctx.spark, ctx.tracer
    queries, batch, n_queries = index.queries, index.batch, len(index.queries)
    answers: dict[int, list[int]] = {}
    calls = itertools.count()

    def probe(name: str, size: int) -> float | None:
        out.attempted += 1
        qids = [next(calls) % n_queries for _ in range(size)]
        rows = [(q, queries[q][1]) for q in qids]
        try:
            with tracer.span(name):
                t0 = time.perf_counter()
                got = ivf_centroid_topk(
                    spark, index.path, spark.createDataFrame(rows, QUERY_SCHEMA), k=K
                ).collect()
                seconds = time.perf_counter() - t0
        except Exception as exc:
            out.fail(f"{name}: {exc!r}")
            return None
        per_query = defaultdict(list)
        for r in got:
            per_query[r["query_id"]].append(r["neighbor_id"])
        if sorted(per_query) != sorted(set(qids)) or any(len(v) != K for v in per_query.values()):
            out.fail(f"{name}: expected {K} neighbours for each of {len(qids)} queries")
        answers.update(per_query)
        return seconds

    # warm-up round: the first probe pays the first read of each index
    # tier, and the JIT keeps speeding the next ones up
    probe("operators.ivf.ivf_centroid_topk.warm_up", 1)
    probe("operators.ivf.ivf_centroid_topk.warm_up", 1)
    probe("operators.ivf.ivf_centroid_topk.warm_up", batch)
    singles, batches = [], []
    deadline = time.perf_counter() + ctx.seconds
    rounds = 0
    while time.perf_counter() < deadline or rounds < MIN_ROUNDS:
        rounds += 1
        for _ in range(SINGLES_PER_ROUND):
            singles.append(probe("operators.ivf.ivf_centroid_topk.single", 1))
        batches.append(probe("operators.ivf.ivf_centroid_topk.batch", batch))
    singles = [w for w in singles if w is not None]
    batches = [w for w in batches if w is not None]
    if not answers:
        return dict

    # recall against the exact answer for every query probed
    probed = sorted(answers)
    with tracer.span("operators.similarity.brute_force_topk"):
        exact_rows = brute_force_topk(
            index.vectors,
            spark.createDataFrame([(q, queries[q][1]) for q in probed], QUERY_SCHEMA),
            k=K,
        ).collect()
    exact = defaultdict(set)
    for r in exact_rows:
        exact[r["query_id"]].add(r["neighbor_id"])
    recall = sum(len(exact[q] & set(answers[q])) / K for q in probed) / len(probed)
    out.attempted += 1
    if recall < RECALL_FLOOR:
        out.fail(f"recall@{K} {recall:.3f} below the floor {RECALL_FLOOR}")

    if singles:
        out.end_to_end["latency_p50_ms"] = median(singles) * 1000
    if batches:
        out.end_to_end["throughput_per_s"] = median(batch / w for w in batches)
    out.info.update(
        {
            "ann_recall_at_10": recall,
            "ann_single_s": singles,
            "ann_batch_s": batches,
        }
    )

    def layers() -> dict[str, float]:
        singles = tracer.named("operators.ivf.ivf_centroid_topk.single")
        batched = tracer.named("operators.ivf.ivf_centroid_topk.batch")
        (bf,) = tracer.named("operators.similarity.brute_force_topk")
        return {
            "operators.ivf.build_train_s": index.train_end - index.t_start,
            "operators.ivf.build_write_s": index.t_end - index.train_end,
            "operators.ivf.probe_ms": median(s.seconds for s in singles) * 1000,
            "operators.ivf.jobs_per_probe": sum(s.spark["jobs"] for s in singles) / len(singles),
            "operators.ivf.batch_probe_ms": median(s.seconds for s in batched) * 1000,
            "operators.ivf.recall_at_10": recall,
            "operators.similarity.bruteforce_ms": bf.seconds * 1000,
        }

    return layers
