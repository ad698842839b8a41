"""Semantics + scale-posture tests for the round-3 additions: PageRank,
sparse TF-IDF cosine, constraint report, vocabulary encoding."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- pagerank


def test_pagerank_star_graph(spark):
    """Star graph: the hub must outrank every leaf, leaves are symmetric
    (identical rank), and total mass stays ~1 (no dangling loss on a
    connected undirected graph)."""
    from sparkstreaming_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(5)], "src string, dst string"
    )
    rows = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    assert len(rows) == 6
    leaf_ranks = {v for k, v in rows.items() if k.startswith("leaf")}
    assert len(leaf_ranks) == 1  # symmetry
    assert rows["hub"] > max(leaf_ranks) * 2
    assert math.isclose(sum(rows.values()), 1.0, abs_tol=1e-6)


def test_pagerank_hand_computed_triangle(spark):
    """Triangle (3-regular symmetric): the uniform vector is a fixed
    point, so every node must hold exactly 1/3 after any number of
    iterations."""
    from sparkstreaming_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    rows = pagerank(edges, iterations=4).collect()
    for r in rows:
        assert math.isclose(r["rank"], 1.0 / 3.0, abs_tol=1e-8), r


def test_pagerank_edge_multiplicity_ignored(spark):
    """Duplicate edge rows must not double-count mass (distinct first)."""
    from sparkstreaming_spark.operators.graph import pagerank

    once = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    dup = once.unionAll(once)
    r1 = {r["node"]: r["rank"] for r in pagerank(once, iterations=3).collect()}
    r2 = {r["node"]: r["rank"] for r in pagerank(dup, iterations=3).collect()}
    assert r1 == r2


def test_pagerank_iteration_has_partial_aggregate(spark):
    """Each iteration's dst-sum must partial-aggregate (map-side combine)
    so hub nodes don't ship one row per edge through the shuffle."""
    from sparkstreaming_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = _plan(pagerank(edges, iterations=1))
    assert "partial_sum" in plan or "HashAggregate" in plan, plan[:3000]


def test_pagerank_persisted_out_cleanup(spark):
    """Repeated pagerank calls in one session must not accumulate cached
    blocks when the caller uses the persisted_out cleanup path: after each
    call's unpersist, the handles' cached RDDs are gone and nothing the
    call created is still persisted. (A strict count of persisted RDDs
    would flake: earlier tests' lazy localCheckpoint RDDs can be garbage
    collected mid-test.)"""
    from sparkstreaming_spark.operators.graph import pagerank

    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    def cached_rdd_id(df):
        data = cache.lookupCachedData(df._jdf).get()
        return data.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    for _ in range(3):
        high = max(jsc.getPersistentRDDs(), default=-1)
        handles = []
        result = pagerank(edges, iterations=2, persisted_out=handles).collect()
        assert len(result) == 3
        assert len(handles) == 3  # e0, deg, adj
        ids = {cached_rdd_id(h) for h in handles}
        assert len(ids) == 3 and min(ids) > high
        for h in handles:
            h.unpersist(blocking=True)
        persisted = set(jsc.getPersistentRDDs())
        assert not ids & persisted
        assert not {i for i in persisted if i > high}


# ------------------------------------------------------------ tfidf cosine


def test_tfidf_identical_docs_cosine_one(spark):
    """Two identical documents must score cosine 1.0; an unrelated
    document with no shared trigrams must not pair with them."""
    from sparkstreaming_spark.textstats.tfidf import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words appear in this other sentence here"),
            (4, "completely different words appear in this other sentence here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
            tfidf_cosine_pairs(docs, "doc_id", "text", min_cosine=0.1).collect()}
    assert rows == {(1, 2): 1.0, (3, 4): 1.0}


def test_tfidf_partial_overlap_in_open_interval(spark):
    """Docs sharing some but not all trigrams land strictly between 0,1."""
    from sparkstreaming_spark.textstats.tfidf import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta other tail entirely"),
            (3, "alpha beta gamma delta epsilon zeta"),
            # 4th doc keeps df < N for the shared trigrams (idf > 0)
            (4, "unrelated filler sentence with none shared"),
        ],
        "doc_id bigint, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
            tfidf_cosine_pairs(docs, "doc_id", "text", min_cosine=0.01).collect()}
    assert rows[(1, 3)] == 1.0
    assert 0.0 < rows[(1, 2)] < 1.0
    assert rows[(1, 2)] == rows[(2, 3)]


def test_tfidf_max_df_prunes_boilerplate(spark):
    """A trigram present in EVERY doc (header boilerplate) must be
    dropped by the df cap before the self-join — pairs that only share
    the boilerplate disappear."""
    from sparkstreaming_spark.textstats.tfidf import tfidf_cosine_pairs

    header = "standard license header text"
    docs = spark.createDataFrame(
        [(i, f"{header} unique{i} content{i} word{i} tail{i}") for i in range(6)],
        "doc_id bigint, text string",
    )
    got = tfidf_cosine_pairs(
        docs, "doc_id", "text", max_df=5, min_cosine=0.001
    ).collect()
    assert got == []  # header df=6 > cap; nothing else shared


# -------------------------------------------------------- constraint report


def test_constraint_report_pass_fail(spark):
    from sparkstreaming_spark.operators.constraints import (
        Check,
        completeness,
        constraint_report,
        uniqueness,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], "id bigint, v string"
    )
    rows = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in constraint_report(
            df,
            [
                Check("v_complete", completeness("v"), 1.0, 1.0),
                Check("id_unique", uniqueness("id"), 1.0, 1.0),
                Check("rows", F.count(F.lit(1)).cast("double"), 1.0, 10.0),
            ],
        ).collect()
    }
    assert rows["v_complete"] == (pytest.approx(2 / 3, abs=1e-6), False)
    assert rows["id_unique"] == (pytest.approx(2 / 3, abs=1e-6), False)
    assert rows["rows"] == (3.0, True)


def test_constraint_report_is_single_scan(spark):
    """All constraints must fold into ONE aggregation over one scan —
    the report cost must not grow with the number of checks."""
    from sparkstreaming_spark.operators.constraints import (
        Check,
        completeness,
        constraint_report,
        membership,
    )

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet")
    report = constraint_report(
        docs,
        [
            Check("c1", completeness("text"), 1.0, 1.0),
            Check("c2", membership("lang", ["en"]), 0.0, 1.0),
            Check("c3", F.avg("n_chars"), 0.0, 1e9),
        ],
    )
    plan = _plan(report)
    assert plan.count("FileScan") == 1, plan[:3000]


# ------------------------------------------------------------ vocab encode


def test_vocab_encode_ids_and_df(spark):
    from sparkstreaming_spark.textstats.vocab import vocab_encode

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "apple cherry"), (3, "apple banana")],
        "doc_id bigint, text string",
    )
    rows = {r["token"]: (r["token_id"], r["df"]) for r in
            vocab_encode(docs, "text", min_df=1).collect()}
    # df counts documents (apple in 3 docs despite 4 occurrences)
    assert rows["apple"] == (1, 3)
    assert rows["banana"] == (2, 2)
    assert rows["cherry"] == (3, 1)


def test_vocab_encode_min_df_and_max_vocab(spark):
    from sparkstreaming_spark.textstats.vocab import vocab_encode

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a")], "doc_id bigint, text string"
    )
    got = vocab_encode(docs, "text", min_df=2).collect()
    assert {r["token"] for r in got} == {"a", "b"}
    top1 = vocab_encode(docs, "text", min_df=1, max_vocab=1).collect()
    assert [r["token"] for r in top1] == ["a"]


def test_vocab_encode_no_pair_shuffle_for_df(spark):
    """Document-frequency must come from in-row array_distinct — exactly
    ONE Exchange (the token groupBy); a (doc,token) distinct would add a
    second."""
    from sparkstreaming_spark.textstats.vocab import vocab_encode

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet")
    plan = _plan(vocab_encode(docs, "text", min_df=2, max_vocab=100))
    # one Exchange for the groupBy, one single-partition Exchange for the
    # vocabulary-sized ranking window — but no third for a pairwise distinct
    assert plan.count("Exchange") <= 2, plan[:3000]


def test_psi_formula_pinned_on_planted_counts(spark):
    """PSI on hand-computable data: one type, 6 ref rows in bucket 1 and
    6 cur rows in bucket 2 — maximal separation for the bin layout, so
    each side concentrates exactly where the other is empty. Expected
    value computed from the Laplace-smoothed formula by hand."""
    import datetime as dt
    import math

    from sparkstreaming_spark.suite.analytics import PSI_BINS, PSI_EPS, q_psi_drift

    # epoch-week parity: 2026-01-01 is epoch day 20454 -> week 2922 (even
    # -> ref); +7 days flips parity (cur)
    ref_ts = dt.datetime(2026, 1, 1)
    cur_ts = dt.datetime(2026, 1, 8)
    rows = [(ref_ts, "t", 10.0)] * 6 + [(cur_ts, "t", 60.0)] * 6
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = q_psi_drift(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_ref, r.n_cur) == (6, 6)
    n_bins = PSI_BINS + 2
    tot = 6 + PSI_EPS * n_bins

    def term(o_ref, o_cur):
        p = (o_ref + PSI_EPS) / tot
        q = (o_cur + PSI_EPS) / tot
        return (p - q) * math.log(p / q)

    expected = term(6, 0) + term(0, 6) + (n_bins - 2) * term(0, 0)
    assert abs(r.psi - round(expected, 6)) < 1e-9, (r.psi, expected)


def test_ks_statistic_pinned_on_disjoint_samples(spark):
    """Fully-disjoint supports must give KS = 1.0; identical samples give
    KS = 0.0 — the two analytic anchors of the statistic."""
    import datetime as dt
    import os
    import tempfile

    from sparkstreaming_spark.suite.analytics import q_ks_test

    ref_ts = dt.datetime(2026, 1, 1)
    cur_ts = dt.datetime(2026, 1, 8)
    disjoint = [(ref_ts, "a", float(v)) for v in (1, 2, 3)] + [
        (cur_ts, "a", float(v)) for v in (10, 11, 12)
    ]
    same = [(ref_ts, "b", float(v)) for v in (5, 6)] + [
        (cur_ts, "b", float(v)) for v in (5, 6)
    ]
    df = spark.createDataFrame(disjoint + same, ["ts", "event_type", "value"])
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.event_type: r.ks for r in q_ks_test(spark, d).collect()}
    assert out["a"] == 1.0
    assert out["b"] == 0.0


def test_chi_square_zero_for_independent_counts(spark):
    """A perfectly-independent contingency table (same dow profile for
    every type) must yield chi2 contribution 0 for each type."""
    import datetime as dt
    import os
    import tempfile

    from sparkstreaming_spark.suite.analytics import q_chi_square

    rows = []
    for t in ("a", "b"):
        for day, n in ((dt.datetime(2026, 1, 5), 4), (dt.datetime(2026, 1, 6), 2)):
            rows += [(day, t, 1.0)] * n
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.event_type: r.chi2_contrib for r in q_chi_square(spark, d).collect()}
    assert out == {"a": 0.0, "b": 0.0}


def test_kcore_keeps_clique_drops_chain(spark):
    """K6 ∪ a long chain hanging off it: the 5-core must be exactly the
    K6 (every clique node keeps degree 5; every chain node has ≤ 2)."""
    from sparkstreaming_spark.operators.graph import kcore_nodes

    clique = [(a, b) for a in range(6) for b in range(6) if a < b]
    chain = [(5, 10), (10, 11), (11, 12), (12, 13)]
    edges = spark.createDataFrame(clique + chain, "src int, dst int")
    core = {r.node: r.core_degree for r in kcore_nodes(edges, 5).collect()}
    assert set(core) == {0, 1, 2, 3, 4, 5}
    assert all(d == 5 for d in core.values())


def test_kcore_cascading_peel(spark):
    """Peeling must CASCADE: a pendant chain into a triangle collapses
    entirely under k=2 only after repeated rounds remove it link by
    link — the triangle survives."""
    from sparkstreaming_spark.operators.graph import kcore_nodes

    tri = [(0, 1), (1, 2), (0, 2)]
    chain = [(2, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(tri + chain, "src int, dst int")
    core = {r.node for r in kcore_nodes(edges, 2).collect()}
    assert core == {0, 1, 2}


def test_tfidf_postings_cap_bounds_join_size(spark):
    """The df<=max_df prune is the ONLY thing standing between the
    inverted-index self-join and quadratic blowup on boilerplate terms
    (doc_tfidf_cosine is the top honest batch row at true-sf1; sum(df^2)
    is its cost law). On a heavy-tail corpus — every doc sharing one
    boilerplate line — the pruned postings must (a) contain no term
    with df > max_df and (b) keep the pair-join input under the
    cap-derived bound kept_terms * C(max_df, 2)."""
    from pyspark.sql import functions as F

    from sparkstreaming_spark.textstats.tfidf import pruned_postings

    n, max_df = 200, 10
    # every doc: identical boilerplate header (df = n >> max_df) plus a
    # small-df payload shared with its neighbor (df = 2, survives)
    rows = [
        (
            i,
            "all rights reserved contact the webmaster for details "
            f"payload group{i // 2} token{i // 2} marker{i // 2}",
        )
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wn = pruned_postings(docs, "doc_id", "text", shingle_n=3, max_df=max_df)
    dfc = wn.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dfc.agg(
        F.max("df").alias("max_df_seen"),
        F.count(F.lit(1)).alias("kept_terms"),
        F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("join_pairs"),
    ).first()
    assert stats.max_df_seen <= max_df, (
        f"df cap regressed: a term with df={stats.max_df_seen} entered "
        "the self-join input"
    )
    assert stats.join_pairs <= stats.kept_terms * max_df * (max_df - 1) / 2
    # and the boilerplate really was the heavy tail: uncapped, the header
    # shingles alone would contribute >= C(n, 2) join pairs
    assert n * (n - 1) / 2 > stats.join_pairs
