"""Round-14 wave-3 operators: exact substring (token-run) dedup,
label-propagation communities, containment dedup, bounded harmonic
centrality.

Each test pins the SEMANTICS on a hand-computable micro-case — the
oracle gate already proves cross-engine agreement at fixture scale, so
these fix what "right" means when both engines would agree on a wrong
answer together.
"""

from __future__ import annotations

from hive_export_spark.operators.dedup import duplicate_token_spans
from hive_export_spark.operators.graph import label_propagation


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_token_spans_merges_overlapping_shingles(spark):
    # 12 shared tokens => a 12-token run duplicated across docs 1 and 2
    # must come back as ONE span of exactly 12 tokens in each, not the
    # 5 overlapping 8-gram hits that detected it.
    shared = "a b c d e f g h i j k l"
    rows = [
        (1, f"{shared} unique tail one x y z"),
        (2, f"other head two {shared}"),
        (3, "entirely different text with no duplication at all here"),
    ]
    out = {
        r["doc_id"]: r
        for r in duplicate_token_spans(_docs(spark, rows), window=8).collect()
    }
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 12


def test_duplicate_token_spans_two_disjoint_spans(spark):
    # two separated duplicated runs in one doc stay two islands
    s1 = "p q r s t u v w"  # 8 tokens, exactly one shingle
    s2 = "m n o aa bb cc dd ee"
    rows = [
        (1, f"{s1} filler gap words here between runs {s2}"),
        (2, s1),
        (3, s2),
    ]
    out = {
        r["doc_id"]: r
        for r in duplicate_token_spans(_docs(spark, rows), window=8).collect()
    }
    assert out[1]["n_dup_spans"] == 2
    assert out[1]["dup_tokens"] == 16
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 8


def test_duplicate_token_spans_skips_short_and_null(spark):
    rows = [(1, None), (2, "too short"), (3, "a b c d e f g h"), (4, "a b c d e f g h")]
    got = duplicate_token_spans(_docs(spark, rows), window=8).collect()
    assert {r["doc_id"] for r in got} == {3, 4}
    assert all(r["dup_ratio"] == 1.0 for r in got)


def test_intradoc_repeat_alone_is_not_cross_doc_dup(spark):
    # an 8-gram repeated WITHIN one doc only (1 distinct doc) must not count
    s = "r1 r2 r3 r4 r5 r6 r7 r8"
    rows = [(1, f"{s} mid words split marker {s}"), (2, "nothing shared here at all ok then fine")]
    assert duplicate_token_spans(_docs(spark, rows), window=8).collect() == []


def test_label_propagation_two_cliques_converge(spark):
    # two triangles joined by nothing: each collapses to its min id
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)], "u long, v long"
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges, 3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_tie_breaks_to_min_label(spark):
    # node 3's neighbors 1 and 2 tie at one vote each -> min label wins
    edges = spark.createDataFrame([(1, 3), (2, 3)], "u long, v long")
    got = {
        r["node"]: r["label"] for r in label_propagation(edges, 1).collect()
    }
    assert got[3] == 1


def test_containment_catches_subset_doc_jaccard_misses(spark):
    from hive_export_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    longdoc = (
        "intro words here now " + quote + " and then a very long tail "
        "of completely unrelated content that keeps going on and on with "
        "many more distinct tokens to dilute the jaccard score badly"
    )
    docs = _docs(spark, [(1, quote), (2, longdoc)])
    got = containment_pairs(docs, threshold=0.8).collect()
    assert len(got) == 1
    r = got[0]
    # doc 1's 4 shingles all appear in doc 2 -> containment 1.0, inner=1
    assert r["inner_doc"] == 1 and r["outer_doc"] == 2
    assert r["containment"] == 1.0
    assert r["inner_sz"] < r["outer_sz"]
    # and jaccard at the same threshold says nothing
    assert ngram_jaccard_pairs(docs, threshold=0.8).collect() == []


def test_containment_orients_ties_to_lower_id(spark):
    from hive_export_spark.operators.dedup import containment_pairs

    same = "one two three four five six"
    got = containment_pairs(_docs(spark, [(7, same), (3, same)]), threshold=0.8).collect()
    assert len(got) == 1
    assert got[0]["inner_doc"] == 3 and got[0]["outer_doc"] == 7


def test_bounded_harmonic_on_path_graph(spark):
    from hive_export_spark.operators.graph import bounded_harmonic

    # path 1-2-3-4-5: node 1 sees {2}@1, {3}@2, {4}@3 -> H3 = 1 + .5 + 1/3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {r["node"]: r for r in bounded_harmonic(edges, 3).collect()}
    assert got[1]["n_d1"] == 1 and got[1]["n_d2"] == 1 and got[1]["n_d3"] == 1
    assert got[1]["harmonic_r3"] == 1 + 0.5 + 1 / 3.0
    # middle node 3 reaches everything within 2 hops
    assert got[3]["n_d1"] == 2 and got[3]["n_d2"] == 2 and got[3]["n_d3"] == 0
    assert got[3]["harmonic_r3"] == 3.0
