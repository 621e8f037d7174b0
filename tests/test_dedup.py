"""Dedup family: exactness of the exact path; recall/precision of the
approximate paths against the exact n-gram Jaccard ground truth."""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import pyspark.sql.functions as F
import pytest

from etl_demos_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "a completely different document about spark query engines and shuffles",
        "rain in spain falls mainly on the plain said the linguist professor",
    ]
    rows = []
    doc_id = 0
    for b in base:
        # exact copies (different whitespace/case → same normalized form)
        rows += [(doc_id, b), (doc_id + 1, b.upper() + "  "), (doc_id + 2, b)]
        # near-dup: one word changed
        words = b.split()
        words[3] = "XYZ"
        rows.append((doc_id + 3, " ".join(words)))
        doc_id += 10
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalizes(spark, corpus):
    out = dedup.exact_dedup(corpus)
    # 3 copies of each base collapse to 1; near-dups survive
    assert out.count() == 6
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert {0, 3, 10, 13, 20, 23} == kept  # min doc_id wins


def test_duplicate_stats(spark, corpus):
    stats = dedup.duplicate_stats(corpus)
    assert stats.filter(F.col("n_copies") == 3).count() == 3


def test_jaccard_pairs_finds_neardups(spark, corpus):
    pairs = dedup.jaccard_pairs(corpus, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # each near-dup (base+3) pairs with all 3 copies of its base
    for b in (0, 10, 20):
        assert (b, b + 3) in got
    # no cross-base pairs at this threshold
    assert not any(abs(a - b) >= 10 for a, b in got)


def test_minhash_recall_vs_exact(spark, corpus):
    # Recall is measured on pairs with clear margin above the cutoff: the
    # 128-hash estimator has ~0.04 stderr, so pairs sitting AT the
    # threshold legitimately flicker — that's estimator variance, not a
    # recall failure.
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(corpus, threshold=0.7).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    assert exact, "ground truth should be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}: exact={exact}, approx={approx}"


def test_minhash_estimates_track_jaccard(spark, corpus):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(corpus, threshold=0.3).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(corpus, threshold=0.3).collect()
    }
    both = set(exact) & set(approx)
    assert both
    for k in both:
        assert abs(exact[k] - approx[k]) < 0.2, (k, exact[k], approx[k])


def test_simhash_finds_neardups_and_exact_copies(spark, corpus):
    # Ball of 16: these docs have only ~9-11 shingle features, so a single
    # changed word flips several majority votes — short docs sit farther
    # out in Hamming space than long near-dups would.
    pairs = dedup.simhash_pairs(corpus, max_hamming=16).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    # identical normalized docs → identical signatures (distance 0)
    assert got.get((0, 2)) == 0
    assert got.get((10, 12)) == 0
    # near-dups within the ball, exact copies of other bases far outside it
    for b in (0, 10, 20):
        assert (b, b + 3) in got
    assert all(a // 10 == b // 10 for a, b in got)


@pytest.mark.slow
def test_minhash_scales_with_planted_neardups(spark):
    """Scale behavior: 20k docs (sf0.1 corpus x4 with planted mutations).
    The LSH path must (a) find the planted near-duplicate pairs and
    (b) complete via bucket joins — candidate count stays O(near-dups),
    not O(n^2)."""
    import time

    import pyspark.sql.functions as F

    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = base.count()
    variants = [base.select((F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                            F.concat("text", F.lit(f" mutated{i}")).alias("text"))
                for i in range(1, 4)]
    corpus = base.select("doc_id", "text")
    for v in variants:
        corpus = corpus.unionByName(v)
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.7)
    planted_found = pairs.filter(
        (F.col("id_b") - F.col("id_a")) % n == 0
    ).count()
    wall = time.perf_counter() - t0
    # every doc has 3 planted near-identical variants -> 3n planted pairs
    # at jaccard ~> 0.9; LSH at threshold 0.7 must recover nearly all
    assert planted_found >= 3 * n * 0.95, planted_found
    assert wall < 120, f"LSH path too slow at 20k docs: {wall}s"


def test_embedding_dedup_clusters(spark):
    import numpy as np

    from etl_demos_spark.operators.embedding_dedup import (
        connected_components,
        dedup_by_embedding,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 8))
    rows = []
    # 20 base vectors; ids 100+i are near-copies of i (tiny perturbation)
    for i in range(20):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append((100 + i, [float(x) for x in base[i] + 0.001 * rng.standard_normal(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = dedup_by_embedding(df, threshold=0.99)
    kept_ids = sorted(r["vec_id"] for r in kept.collect())
    assert kept_ids == list(range(20))  # min-id canonical per cluster


def test_embedding_tiled_matches_broadcast(spark):
    """The tiled two-sided GEMM (scale path, no driver collect) must
    produce the exact same pair set as the broadcast path, on a corpus
    with planted near-dups — including pairs whose ids straddle tiles."""
    import numpy as np

    from etl_demos_spark.operators.embedding_dedup import (
        cosine_pairs_broadcast,
        cosine_pairs_gemm,
        cosine_pairs_tiled,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 16))
    rows = []
    for i in range(60):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append((1000 + i, [float(x) for x in base[i] + 0.001 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def pairset(out):
        return {(r["id_a"], r["id_b"], round(r["cos_sim"], 9)) for r in out.collect()}

    bc = pairset(cosine_pairs_broadcast(df, threshold=0.99))
    for n_blocks in (2, 5):
        tiled = pairset(cosine_pairs_tiled(df, threshold=0.99, n_blocks=n_blocks))
        assert tiled == bc, f"n_blocks={n_blocks}: {tiled ^ bc}"
    assert len(bc) >= 60  # every planted near-copy pair recovered
    # router: forcing a tiny broadcast budget must route to tiled
    routed = pairset(
        cosine_pairs_gemm(df, threshold=0.99, broadcast_max_rows=10, target_block_rows=40)
    )
    assert routed == bc


def test_connected_components_chain(spark):
    from etl_demos_spark.operators.embedding_dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comps[1] == comps[2] == comps[3] == comps[4] == 1
    assert comps[10] == comps[11] == 10


def test_connected_components_paths_identical(spark):
    """The size-routed single-task numpy path and the iterative
    DataFrame path must return the exact same (node, comp) labeling —
    pinned on a random graph with chains, cliques, isolated edges, a
    self-loop, and shuffled insert order."""
    import random

    from etl_demos_spark.operators.embedding_dedup import connected_components

    rng = random.Random(7)
    edges = []
    # 10 cliques of 4 (ids 0..39), a 12-node chain (100..111),
    # star (200 center), isolated pairs, a self-loop, dup edges
    for c in range(10):
        ids = [c * 4 + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges += [(100 + i, 101 + i) for i in range(11)]
    edges += [(200, 300 + i) for i in range(5)]
    edges += [(400, 401), (500, 501), (77, 77)]
    edges += edges[:7]  # duplicates
    rng.shuffle(edges)
    # reversed orientation on a subset
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    fast = {
        (r["node"], r["comp"])
        for r in connected_components(pairs, single_task_edge_cap=10**9).collect()
    }
    slow = {
        (r["node"], r["comp"])
        for r in connected_components(pairs, single_task_edge_cap=0).collect()
    }
    assert fast == slow
    comps = dict(fast)
    assert comps[111] == 100  # chain collapses to min id
    assert comps[304] == 200  # star
    assert all(comps[c * 4 + i] == c * 4 for c in range(10) for i in range(4))
    assert 77 not in comps  # self-loop contributes no edge, node dropped


def test_connected_components_string_ids(spark):
    """Both CC paths support non-integer node ids (min = lexicographic)."""
    from etl_demos_spark.operators.embedding_dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    for cap in (0, 10**9):
        comps = {
            r["node"]: r["comp"]
            for r in connected_components(pairs, single_task_edge_cap=cap).collect()
        }
        assert comps == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dedup_by_minhash_prefer_keeps_best(spark):
    """With prefer=quality, the survivor of each near-dup cluster is the
    highest-quality member (not the min id); unclustered docs untouched."""
    from etl_demos_spark.operators.dedup import dedup_by_minhash

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, 0.2),
        (2, base + " extra", 0.9),          # same cluster, best quality
        (3, base + " extra word", 0.5),
        (10, "completely different text about spark shuffles and joins here", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    kept_minid = {r["doc_id"] for r in dedup_by_minhash(df, threshold=0.4).collect()}
    kept_best = {
        r["doc_id"]
        for r in dedup_by_minhash(df, threshold=0.4, prefer=F.col("quality")).collect()
    }
    assert 10 in kept_minid and 10 in kept_best
    assert 1 in kept_minid and kept_minid == {1, 10}
    assert kept_best == {2, 10}


# ---------------------------------------------------------------------------
# Incremental (new-batch-vs-corpus) MinHash dedup
# ---------------------------------------------------------------------------


def _inc_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_minhash_first_seen_wins(spark):
    from etl_demos_spark.operators import dedup as dd

    base = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "one two three four five six seven eight nine ten"),
        (2, "spark plans shuffle partitions broadcast join exchange"),
    ]
    batch1 = _inc_docs(spark, base)
    kept1, store1 = dd.incremental_minhash_dedup(batch1, None, threshold=0.5)
    assert {r["doc_id"] for r in kept1.collect()} == {0, 1, 2}
    store1 = store1.localCheckpoint()

    batch2 = _inc_docs(
        spark,
        [
            (10, "one two three four five six seven eight nine ten"),  # dup of 1
            (11, "completely novel content words appear here first"),
            (12, "completely novel content words appear here first"),  # dup of 11
            (13, "another genuinely new document with its own words"),
        ],
    )
    kept2, store2 = dd.incremental_minhash_dedup(batch2, store1, threshold=0.5)
    assert {r["doc_id"] for r in kept2.collect()} == {11, 13}
    got_store = {r["id"] for r in store2.collect()}
    assert got_store == {0, 1, 2, 11, 13}

    # replaying the same batch against the updated store drops everything
    store2 = store2.localCheckpoint()
    kept3, store3 = dd.incremental_minhash_dedup(batch2, store2, threshold=0.5)
    assert kept3.count() == 0
    assert {r["id"] for r in store3.collect()} == got_store


def test_incremental_store_signatures_match_batch_form(spark):
    """Signatures persisted by the incremental path must be identical to
    minhash_signatures over the same docs — the store is reusable by
    every other MinHash consumer."""
    from etl_demos_spark.operators import dedup as dd

    rows = [
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "pack my box with five dozen liquor jugs"),
    ]
    df = _inc_docs(spark, rows)
    _, store = dd.incremental_minhash_dedup(df, None)
    want = {
        r["id"]: list(r["sig"])
        for r in dd.minhash_signatures_from_grams(
            dd.exploded_shingles(df, "doc_id", "text", 3), "id", "g", 128
        ).collect()
    }
    got = {r["id"]: list(r["sig"]) for r in store.collect()}
    assert got == want


def test_duplicated_spans_planted_cross_doc(spark):
    """A 25-token run shared by two docs (≥ 2w−1 = 19 at w=10) must be
    FULLY covered by a merged span in each doc at its known offset;
    all-unique docs produce no spans."""
    from etl_demos_spark.operators import dedup as dd

    shared = " ".join(f"common{i}" for i in range(25))
    rows = [
        # doc 1: 5 unique tokens, then the shared run, then 5 unique
        (1, " ".join(f"a{i}" for i in range(5)) + " " + shared + " "
            + " ".join(f"b{i}" for i in range(5))),
        # doc 2: shared run at position 0, then 8 unique tokens
        (2, shared + " " + " ".join(f"c{i}" for i in range(8))),
        # doc 3: fully unique — must emit nothing
        (3, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.duplicated_spans(df, window=10).collect()
    }
    assert 3 not in spans
    # coverage guarantee: span ⊇ [start, start+25)
    s1 = spans[1]
    assert s1[0] <= 5 and s1[1] >= 30
    s2 = spans[2]
    assert s2[0] == 0 and s2[1] >= 25
    # spans never spill past the document end
    assert s1[1] <= 35 and s2[1] <= 33
    for s in (s1, s2):
        assert s[2] == s[1] - s[0]


def test_duplicated_spans_within_doc_repeat(spark):
    """Self-repetition counts: one doc repeating its own 15-token phrase
    twice gets BOTH occurrences flagged (two spans or one merged span
    covering both, depending on the gap)."""
    from etl_demos_spark.operators import dedup as dd

    phrase = " ".join(f"p{i}" for i in range(15))
    gap = " ".join(f"g{i}" for i in range(30))
    df = spark.createDataFrame(
        [(7, phrase + " " + gap + " " + phrase)], "doc_id long, text string"
    )
    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in dd.duplicated_spans(df, window=10).collect()
    )
    # occurrence 1 at tokens [0,15), occurrence 2 at [45,60)
    assert len(spans) == 2
    assert spans[0][0] == 0 and spans[0][1] >= 15 and spans[0][1] <= 24
    assert spans[1][0] <= 45 and spans[1][1] == 60


def test_duplicated_spans_matches_python_reference(spark):
    """Window-for-window agreement with a first-principles Python sweep
    (dict of window-tuple counts → flagged positions → merged islands)."""
    import re as _re

    from etl_demos_spark.operators import dedup as dd

    w = 4
    texts = {
        10: "one two three four five one two three four six seven",
        11: "alpha beta gamma delta alpha beta gamma delta epsilon",
        12: "one two three four nine alpha beta gamma delta omega",
        13: "unique tokens only here nothing repeats at all today",
    }
    # python reference
    toks = {
        k: _re.findall("[a-z0-9]+", v.lower()) for k, v in texts.items()
    }
    counts: dict[tuple, int] = {}
    for t in toks.values():
        for i in range(len(t) - w + 1):
            key = tuple(t[i : i + w])
            counts[key] = counts.get(key, 0) + 1
    want = {}
    for k, t in toks.items():
        flagged = [
            i
            for i in range(len(t) - w + 1)
            if counts[tuple(t[i : i + w])] > 1
        ]
        spans = []
        for i in flagged:
            if spans and i <= spans[-1][1]:  # overlap or adjacency
                spans[-1][1] = max(spans[-1][1], i + w)
            else:
                spans.append([i, i + w])
        for s in spans:
            want[(k, s[0])] = s[1]
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["id"], r["span_start"]): r["span_end"]
        for r in dd.duplicated_spans(df, window=w).collect()
    }
    assert got == want


def test_remove_duplicated_spans_keep_first(spark):
    """Keep-first semantics: of two identical docs the lower id is
    untouched, the higher collapses to empty; short docs (< w tokens)
    pass through (normalized); unique docs lose nothing."""
    from etl_demos_spark.operators import dedup as dd

    body = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, body),
        (2, body),
        (3, "Tiny Doc!"),  # 2 tokens < w — must pass through normalized
        (4, " ".join(f"u{i}" for i in range(15))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: (r["clean_text"], r["kept_tokens"], r["removed_tokens"])
        for r in dd.remove_duplicated_spans(df, window=10).collect()
    }
    assert got[1] == (body, 20, 0)
    assert got[2] == ("", 0, 20)
    assert got[3] == ("tiny doc", 2, 0)
    assert got[4][1:] == (15, 0)


def test_remove_duplicated_spans_self_repeat(spark):
    """A doc repeating its own 12-token phrase keeps the FIRST
    occurrence and loses the second."""
    from etl_demos_spark.operators import dedup as dd

    phrase = " ".join(f"p{i}" for i in range(12))
    gap = " ".join(f"g{i}" for i in range(20))
    df = spark.createDataFrame(
        [(9, phrase + " " + gap + " " + phrase)], "doc_id long, text string"
    )
    r = dd.remove_duplicated_spans(df, window=10).collect()[0]
    assert r["clean_text"].startswith(phrase + " g0")
    assert "g19" in r["clean_text"]
    # exactly the second occurrence (12 tokens) is gone
    assert (r["kept_tokens"], r["removed_tokens"]) == (32, 12)
    assert r["clean_text"].endswith("g19")


def test_remove_duplicated_spans_matches_python_reference(spark):
    """Token-for-token agreement with a first-principles Python sweep of
    keep-first flagging + island merge + cut."""
    import re as _re

    from etl_demos_spark.operators import dedup as dd

    w = 4
    texts = {
        10: "one two three four five one two three four six seven",
        11: "alpha beta gamma delta alpha beta gamma delta epsilon",
        12: "one two three four nine alpha beta gamma delta omega",
        13: "unique tokens only here nothing repeats at all today",
        14: "hi",
    }
    toks = {k: _re.findall("[a-z0-9]+", v.lower()) for k, v in texts.items()}
    first: dict[tuple, tuple] = {}
    for k in sorted(toks):
        t = toks[k]
        for i in range(len(t) - w + 1):
            first.setdefault(tuple(t[i : i + w]), (k, i))
    want = {}
    for k in sorted(toks):
        t = toks[k]
        flagged = [
            i
            for i in range(len(t) - w + 1)
            if first[tuple(t[i : i + w])] != (k, i)
        ]
        spans = []
        for i in flagged:
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + w)
            else:
                spans.append([i, i + w])
        keep = [
            tok
            for i, tok in enumerate(t)
            if not any(s[0] <= i < s[1] for s in spans)
        ]
        want[k] = (" ".join(keep), len(keep), len(t) - len(keep))
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r["id"]: (r["clean_text"], r["kept_tokens"], r["removed_tokens"])
        for r in dd.remove_duplicated_spans(df, window=w).collect()
    }
    assert got == want


def test_incremental_minhash_keeps_unique_short_docs(spark):
    """The kept-set contract is TOTAL: a unique document with fewer than
    n tokens must survive (sub-n docs carry a degenerate whole-text
    gram, so they get signatures instead of silently vanishing), and an
    identical short text arriving in a later batch must dedup against
    the store (first-seen wins)."""
    from etl_demos_spark.operators.dedup import incremental_minhash_dedup

    b1 = spark.createDataFrame(
        [
            (1, "hello world"),            # 2 tokens < n=3: unique, must survive
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, ""),                        # empty: unique (degenerate '' gram)
        ],
        "doc_id long, text string",
    )
    kept1, store1 = incremental_minhash_dedup(b1, None, n=3, threshold=0.5)
    ids1 = {r["doc_id"] for r in kept1.collect()}
    assert ids1 == {1, 2, 3}, ids1

    b2 = spark.createDataFrame(
        [
            (10, "hello world"),           # exact short dup of doc 1 → dropped
            (11, "completely new text here today"),
            (12, ""),                       # empty dup of doc 3 → dropped
        ],
        "doc_id long, text string",
    )
    kept2, _ = incremental_minhash_dedup(b2, store1, n=3, threshold=0.5)
    ids2 = {r["doc_id"] for r in kept2.collect()}
    assert ids2 == {11}, ids2


def test_null_text_contracts_across_dedup_family(spark):
    """NULL text carries no equality evidence: exact_dedup must keep
    every null-text row; the 'whole' shingle path must emit a signature
    for them (never silently drop); span removal must report 0/0 counts,
    not NULL."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x y z w"), (4, "")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup.exact_dedup(df).collect()}
    assert {1, 2, 3} <= kept  # both null rows survive
    grams = dedup.exploded_shingles(df, "doc_id", "text", 3, short_docs="whole")
    by_id = {}
    for r in grams.collect():
        by_id.setdefault(r["id"], []).append(r["g"])
    assert set(by_id) == {1, 2, 3, 4}          # every row got a gram
    assert by_id[1] != by_id[2]                # null docs never match
    rem = {r["id"]: r for r in
           dedup.remove_duplicated_spans(df).collect()}
    assert rem[1]["kept_tokens"] == 0 and rem[1]["removed_tokens"] == 0


def test_keep_best_per_cluster_default_prefers_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (5, "b")], "doc_id long, text string"
    )
    comps = spark.createDataFrame([(1, 1), (2, 1)], "node long, comp long")
    got = {r["doc_id"] for r in
           dedup.keep_best_per_cluster(df, comps).collect()}
    assert got == {1, 5}


def test_span_removal_keeps_first_occurrence_of_periodic_doc(spark):
    """Self-overlapping repeat: a periodic doc must KEEP its first
    window-worth of tokens and remove only the continuation — the old
    unclipped spans gutted the first occurrence itself."""
    w = 10
    toks = ["tok"] * 25
    df = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    out = dedup.remove_duplicated_spans(df, window=w).collect()[0]
    assert out["kept_tokens"] == w
    assert out["removed_tokens"] == 25 - w
    assert out["clean_text"] == " ".join(["tok"] * w)
    # two disjoint occurrences of the same passage: second one removed
    passage = [f"p{i}" for i in range(w)]
    doc = passage + ["mid"] * 3 + passage
    df2 = spark.createDataFrame(
        [(1, " ".join(doc))], "doc_id long, text string"
    )
    got = dedup.remove_duplicated_spans(df2, window=w).collect()[0]
    assert got["kept_tokens"] == w + 3
    assert got["clean_text"] == " ".join(passage + ["mid"] * 3)


def _md5_base(grams, kind):
    """The (id, h) rows the shipped signature paths reduce, built
    independently for the codegen references: md5 grams, null grams
    dropped, MinHash hashes reduced mod p."""
    h = dedup.md5_long(F.col("g"))
    if kind == "minhash":
        h = F.pmod(h, F.lit(dedup.MERSENNE31).cast("long"))
    return grams.select("id", h.alias("h")).filter(F.col("h").isNotNull())


def _sigs(df):
    return {
        r["id"]: tuple(r["sig"]) if isinstance(r["sig"], list) else r["sig"]
        for r in df.collect()
    }


def _signature_pair(docs, kind):
    """(shipped, codegen reference) signatures of (id, sh) docs."""
    grams = docs.select("id", F.explode_outer("sh").alias("g"))
    base = _md5_base(grams, kind)
    if kind == "minhash":
        got = dedup.minhash_signatures_from_grams(grams, "id", "g", 16)
        ref = dedup._minhash_codegen(base, 16)
    else:
        got = dedup.simhash_signatures(docs, "id", "sh")
        ref = dedup._simhash_codegen(base, dedup.SIMHASH_BITS)
    return _sigs(got), _sigs(ref)


_BIG = (1 << 53) + 1  # not representable in float64

# id type → (ids 1, 2, an extreme value, 7): the Arrow reduce keeps each
# type end to end; the struct id must take the codegen path
_ID_TYPES = {
    "bigint": ("bigint", (1, 2, _BIG, 7)),
    "int": ("int", (1, 2, (1 << 31) - 1, 7)),
    "string": ("string", ("1", "2", str(_BIG), "7")),
    "decimal": ("decimal(20,0)", (Decimal(1), Decimal(2), Decimal((1 << 64) + 1), Decimal(7))),
    "date": ("date", (date(2020, 1, 1), date(2020, 1, 2), date(9999, 12, 31), date(1970, 1, 1))),
    "struct": ("struct<k:bigint>", ((1,), (2,), (_BIG,), (7,))),
}


@pytest.mark.parametrize("id_name", list(_ID_TYPES))
@pytest.mark.parametrize("kind", ["minhash", "simhash"])
def test_arrow_signatures_handle_null_grams_and_null_ids(spark, kind, id_name):
    """The Arrow signature reduce must (a) ignore null grams like the
    codegen aggregates do, (b) keep the null-id group as ONE signature,
    (c) hand every id back exactly in its own type — int64 ids ≥ 2^53
    next to a null id in the same batch, decimals beyond int64, dates —
    and (d) agree with codegen on a doc whose every gram is null: NO
    signature row from either implementation. Ids Arrow cannot group
    like Spark (a struct here) take the codegen path."""
    id_type, (one, two, big, seven) = _ID_TYPES[id_name]
    docs = spark.createDataFrame(
        [(one, ["aa", None, "bb"]), (None, ["aa"]), (None, ["cc"]),
         (two, ["aa"]), (big, ["aa"]), (seven, [None])],
        f"id {id_type}, sh array<string>",
    )
    assert dedup._arrow_groups_ids(docs) == (id_name != "struct")
    got, ref = _signature_pair(docs, kind)
    # id 7 (all-null grams) absent from BOTH; the extreme id survives
    assert set(got) == {one, two, big, None}
    assert got == ref


@pytest.mark.parametrize("kind", ["minhash", "simhash"])
def test_arrow_signature_runs_straddle_batches(spark, kind):
    """With 4-row Arrow batches every id run of 5+ grams — the null-id
    group included — straddles batch boundaries, so the carried run
    must merge into the next batch's first run (and be flushed when the
    next batch starts a new id). Signatures must still equal codegen."""
    rows = [(i, [f"g{i}_{j}" for j in range(i % 11 + 1)]) for i in range(40)]
    rows += [(None, [f"n{j}" for j in range(9)]), (_BIG, [f"b{j}" for j in range(6)])]
    docs = spark.createDataFrame(rows, "id long, sh array<string>")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got, ref = _signature_pair(docs, kind)
    finally:
        spark.conf.set(key, old)
    assert len(got) == 42 and None in got and _BIG in got
    assert got == ref


def test_doc_signatures_bit_identical_to_codegen(spark):
    """minhash_signatures_from_docs (the Arrow sorted reduce) must be
    BIT-IDENTICAL to the codegen groupBy reference over the same grams
    on every contract corner: normal docs, sub-n docs (degenerate whole
    gram), empty text, null text (per-id sentinel), null id + null
    text, null id + text (one merged group), ids ≥ 2^53 and duplicate
    texts, under both ``short_docs`` modes."""
    big = (1 << 53) + 1
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "two words"),
        (4, ""),
        (5, None),
        (None, None),
        (None, "shared null id text body one two three four"),
        (None, "other null id text body five six seven eight"),
        (big, "big id document body one two three"),
        (7, "a"),
        (8, "MiXeD CaSe ToKeNs 123 ABC def"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def both(num_hashes, short_docs):
        got = dedup.minhash_signatures_from_docs(
            docs, "doc_id", "text", 3, num_hashes, "md5", short_docs=short_docs
        )
        grams = dedup.exploded_shingles(docs, "doc_id", "text", 3, short_docs=short_docs)
        ref = dedup._minhash_codegen(_md5_base(grams, "minhash"), num_hashes)
        return _sigs(got), _sigs(ref)

    got, ref = both(32, "whole")
    # the two null-id text rows AND the (None, None) row (whose JVM
    # sentinel concat_ws yields the '' gram, not NULL) MERGE into one
    # null-id signature (SQL groupBy null semantics)
    assert set(got) == {1, 2, 3, 4, 5, 7, 8, big, None}
    assert got == ref
    # identical texts ⇒ identical signatures; sentinel null-text rows
    # must NOT collide with each other or with ''
    assert got[1] == got[2]
    assert got[5] != got[4]

    # short_docs="drop": sub-n and null docs yield no row
    got, ref = both(16, "drop")
    assert got == ref
    assert 3 not in got and 4 not in got


def test_cdc_chunks_resync_after_insertion(spark):
    """THE property content-defined chunking buys over fixed windows:
    boundaries are a function of local content, so inserting a token at
    the front of a long document leaves every chunk after the first
    content-defined cut IDENTICAL — the shared tail dedups — while the
    docs' whole-text fingerprints (and all fixed windows) differ.
    Also pins the reconstruction invariant (chunks re-concatenate to
    the normalized token stream) and the short/empty/null contract."""
    import pyspark.sql.functions as F

    from etl_demos_spark.operators import dedup as D

    base = " ".join(f"tok{i} alpha{i % 7} beta{i % 11}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "INSERTED " + base),  # one leading token
            (3, "two words"),          # sub-w: one whole-text chunk
            (4, ""),                   # empty: no rows
            (5, None),                 # null: no rows
        ],
        "doc_id long, text string",
    )
    chunks = D.cdc_chunks(docs, "doc_id", "text", w=3, mask=16).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["id"], []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r["chunk_idx"])

    # reconstruction: chunks re-join to the tokenized stream, per doc
    for did, rs in by_doc.items():
        text = {1: base, 2: "INSERTED " + base, 3: "two words"}[did]
        import re

        toks = re.findall("[A-Za-z0-9]+", text.lower())
        assert " ".join(c["chunk_text"] for c in rs) == " ".join(toks)
        assert sum(c["chunk_tokens"] for c in rs) == len(toks)

    assert 4 not in by_doc and 5 not in by_doc
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_text"] == "two words"

    # resync: docs 1 and 2 must share every chunk after doc 2's first
    # cut (multiple chunks, not a fluke single match)
    fps1 = {c["chunk_fp"] for c in by_doc[1]}
    fps2 = {c["chunk_fp"] for c in by_doc[2]}
    shared = fps1 & fps2
    assert len(shared) >= 2, (len(by_doc[1]), len(by_doc[2]), len(shared))
    # ...and the duplicate-chunk report sees them as cross-doc dups
    rep = {
        r["chunk_fp"]: (r["n_copies"], r["n_docs"])
        for r in D.cdc_duplicate_chunks(docs, "doc_id", "text", 3, 16).collect()
    }
    for fp in shared:
        assert rep[fp] == (2, 2)
    # the whole documents themselves are NOT duplicates
    full = docs.filter(F.col("doc_id").isin(1, 2)).select(
        F.md5("text").alias("h")
    ).distinct().count()
    assert full == 2


def test_cdc_removal_keep_first_and_accounting(spark):
    """Keep-first semantics of remove_duplicated_cdc_chunks: an exact
    copy of an earlier document loses ALL its chunks (the lower-id doc
    keeps every one); unique docs pass through intact; and the
    kept + removed == tokens accounting holds for EVERY input row,
    null/empty included."""
    import re

    from etl_demos_spark.operators import dedup as D

    base = " ".join(f"w{i} x{i % 5} y{i % 3}" for i in range(40))
    other = "completely different content " + " ".join(
        f"z{i}" for i in range(30)
    )
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, other), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in D.remove_duplicated_cdc_chunks(docs, "doc_id", "text").collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    toks = lambda s: re.findall("[A-Za-z0-9]+", s.lower())
    # doc 1 intact, doc 2 (exact copy) fully cut
    assert out[1]["clean_text"] == " ".join(toks(base))
    assert out[2]["clean_text"] == "" and out[2]["removed_tokens"] == len(toks(base))
    # unique doc intact; degenerate docs pass through as empty
    assert out[3]["clean_text"] == " ".join(toks(other))
    assert out[4] == out[4].__class__(id=4, clean_text="", kept_tokens=0, removed_tokens=0) or (
        out[4]["clean_text"] == "" and out[4]["kept_tokens"] == 0 and out[4]["removed_tokens"] == 0
    )
    assert out[5]["clean_text"] == "" and out[5]["kept_tokens"] == 0
    for did, r in out.items():
        n = len(toks({1: base, 2: base, 3: other}.get(did, "") or ""))
        assert r["kept_tokens"] + r["removed_tokens"] == n, did


def test_cdc_null_id_contract(spark):
    """ADVICE r8: multiple NULL-id docs would share one window
    partition with duplicate token positions, making chunk assignment
    nondeterministic. The contract (cdc_chunks docstring) is that
    NULL-id rows are dropped up front — by both the chunker and the
    removal wrapper — while non-null rows are unaffected."""
    from etl_demos_spark.operators import dedup as D

    base = " ".join(f"w{i} q{i % 5}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base), (None, base), (None, "other text entirely")],
        "doc_id long, text string",
    )
    chunk_ids = {r["id"] for r in D.cdc_chunks(docs, "doc_id", "text").collect()}
    assert chunk_ids == {1}
    out = {
        r["id"]: r
        for r in D.remove_duplicated_cdc_chunks(docs, "doc_id", "text").collect()
    }
    assert set(out) == {1}
    assert out[1]["removed_tokens"] == 0  # NULL-id copies claim no chunks


def test_redact_before_cdc_rebuild_preserves_redaction(spark):
    """ADVICE r8 (high): the CDC rebuild re-joins the lowercased
    [A-Za-z0-9]+ token stream, which destroys the separators every
    PII pattern needs ('@', '://', '-'). Pin the safe composition the
    corpus_cleaning example now uses: redact FIRST, then chunk-dedup —
    the typed placeholders survive tokenization as plain tokens and no
    raw PII (or PII re-assembled into matchable shape) reaches the
    rebuilt text."""
    import pyspark.sql.functions as F

    from etl_demos_spark.operators import dedup as D
    from etl_demos_spark.operators import text as T

    filler = " ".join(f"pad{i} body{i % 7} tail{i % 3}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, f"contact alice@example.com or https://ex.com/x now {filler}"),
            (2, f"contact bob@example.org or https://ex.org/y now {filler}"),
        ],
        "doc_id long, text string",
    )
    redacted = docs.withColumn("text", T.redact_pii("text"))
    out = D.remove_duplicated_cdc_chunks(redacted, "doc_id", "text").collect()
    joined = " ".join(r["clean_text"] for r in out)
    # no address fragments survive; the placeholder tokens do
    for leaked in ("alice", "bob", "example"):
        assert leaked not in joined, (leaked, joined[:200])
    assert "email" in joined and "url" in joined
    # the unsafe order really does leak (guards against the patterns
    # someday matching bare tokens, which would make this test vacuous)
    unsafe = D.remove_duplicated_cdc_chunks(docs, "doc_id", "text")
    unsafe_joined = " ".join(
        r["clean_text"]
        for r in unsafe.withColumn(
            "clean_text", T.redact_pii("clean_text")
        ).collect()
    )
    assert "alice" in unsafe_joined


@pytest.mark.slow
def test_lsh_recall_sampled_slice(spark):
    """VERDICT r8 rec 3: the sampled-slice scale path of q_lsh_recall
    must be real code, and slice recall must agree with full-corpus
    recall. sample_bucket=(k, n) thins docs uniformly and
    content-independently, so within-slice pairs of every Jaccard
    level survive at the same rate and the recall ratio transfers;
    with the production S-curve settings the full corpus measures
    recall 1.0 at sf0.1, and every 1-of-4 slice must measure the same
    (slice LSH pairs are exactly the full pairs restricted to the
    slice — signatures are per-doc, so bucket membership is unchanged
    by slicing)."""
    import os

    from etl_demos_spark.workload_ext import q_lsh_recall

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    full = q_lsh_recall(spark, sf).collect()[0]
    assert full["recall"] == 1.0 and full["n_exact"] > 0
    total_exact = 0
    for k in range(4):
        s = q_lsh_recall(spark, sf, sample_bucket=(k, 4)).collect()[0]
        assert s["n_exact"] > 0, k
        assert s["recall"] == full["recall"], (k, s)
        total_exact += s["n_exact"]
    # both-endpoints-in-bucket thinning: slices cover ~1/4 of pairs
    # each, and their union is a PARTITION-restricted subset of the
    # full pair set (never more)
    assert total_exact <= full["n_exact"]


def test_incremental_cdc_dedup_replay_equals_batch(spark):
    """Replay-equals-batch identity: feeding batches b0, b1 through
    incremental_cdc_dedup (store handed forward) must equal ONE
    remove_duplicated_cdc_chunks pass over the concatenation with ids
    ordered (batch, id) — first-seen-wins at chunk granularity. Also
    pins the store contract: one column of fingerprints, growing to
    the union of all seen chunk fps."""
    from etl_demos_spark.operators import dedup as D

    base = " ".join(f"w{i} x{i % 5} y{i % 3}" for i in range(40))
    other = "unrelated content " + " ".join(f"z{i}" for i in range(30))
    b0 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    # batch 1: an exact re-crawl of doc 1 (all chunks cut), one new doc
    b1 = spark.createDataFrame(
        [(11, base), (12, "novel text " + other)], "doc_id long, text string"
    )
    c0, store = D.incremental_cdc_dedup(b0, None, "doc_id", "text")
    c1, store = D.incremental_cdc_dedup(b1, store, "doc_id", "text")
    got = {
        r["id"]: (r["clean_text"], r["kept_tokens"], r["removed_tokens"])
        for r in c0.unionByName(c1).collect()
    }

    # oracle: one global keep-first pass (batch-0 ids sort first)
    one = spark.createDataFrame(
        [(1, base), (2, other), (11, base), (12, "novel text " + other)],
        "doc_id long, text string",
    )
    want = {
        r["id"]: (r["clean_text"], r["kept_tokens"], r["removed_tokens"])
        for r in D.remove_duplicated_cdc_chunks(one, "doc_id", "text").collect()
    }
    assert got == want
    # the re-crawl lost everything; the novel doc kept its novel prefix
    assert got[11][0] == "" and got[11][2] > 0
    assert got[12][1] > 0

    assert store.columns == ["chunk_fp"]
    all_fps = {
        r["chunk_fp"]
        for r in D.cdc_chunks(one, "doc_id", "text").select("chunk_fp").collect()
    }
    assert {r["chunk_fp"] for r in store.collect()} == all_fps
