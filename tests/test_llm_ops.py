"""Behavioral tests for the approximate/stubbed LLM-pipeline operators —
the paths the SQL oracle can't cover (SURVEY §5.4-style properties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreaming_spark.dedup import minhash_near_dup_pairs, ngram_jaccard_pairs
from sparkstreaming_spark.multimodal import decode_blob_features, with_blob
from sparkstreaming_spark.similarity import brute_force_knn, lsh_knn
from sparkstreaming_spark.sources.batch import read_table
from tests.conftest import SF_DIR_CORRECT


def test_minhash_recall_vs_exact(spark):
    """MinHash-LSH (k=16, b=4) must find every pair the exact 2-gram
    Jaccard join finds at j >= 0.8 (catch probability ~1 at that j)."""
    d = read_table(spark, SF_DIR_CORRECT, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 2, 0.8).collect()
    }
    mh = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(d, "doc_id", "text").collect()
    }
    assert exact, "fixture should contain planted near-dups"
    assert exact <= mh, f"missed pairs: {exact - mh}"


def test_ngram_doc_freq_cap_counts_shared_tokens_not_corpus(spark, monkeypatch):
    """With a shared token frame, the "auto" doc-frequency cap counts
    that frame (one row per doc), not the raw corpus again."""
    from sparkstreaming_spark.dedup import ngram
    from sparkstreaming_spark.dedup.minhash import token_arrays

    d = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    toks = token_arrays(d, "doc_id", "text")
    counted = []
    monkeypatch.setattr(ngram, "_resolve_doc_freq_cap",
                        lambda df, cap: counted.append(df) or 100)
    ngram.ngram_jaccard_pairs(d, "doc_id", "text", toks_df=toks)
    assert len(counted) == 1 and counted[0] is toks


def test_lsh_knn_recall(spark):
    """Multi-table LSH ANN (3 planes x 16 tables) should recover >= 80% of
    the exact top-10 neighbors on the synthetic embeddings."""
    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_knn(emb, q, "vec_id", "embedding", k=10).collect()
    approx = lsh_knn(emb, q, "vec_id", "embedding", k=10, planes=3, tables=16).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"LSH recall too low: {recall:.2f}"


def test_ivf_knn_recall(spark):
    """IVF-Flat (16 lists, nprobe=8) recovers >= 70% of exact top-10 even
    on these cluster-free embeddings (IVF's worst case)."""
    from sparkstreaming_spark.similarity.ivf import ivf_knn

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_knn(emb, q, "vec_id", "embedding", k=10).collect()
    approx = ivf_knn(emb, q, "vec_id", "embedding", k=10, nlist=16, nprobe=8).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, f"IVF recall too low: {recall:.2f}"


def test_blob_decode_real_rejects_non_image(spark):
    """fake=False now really decodes; a blob that isn't PPM/BMP/PNG must
    fail loudly, not produce garbage features."""
    d = with_blob(read_table(spark, SF_DIR_CORRECT, "documents").limit(5), "text")
    feats = decode_blob_features(d, "doc_id", "blob", fake=False)
    with pytest.raises(Exception, match="unsupported image format"):
        feats.collect()


def test_blob_fake_decode_deterministic(spark):
    d = with_blob(read_table(spark, SF_DIR_CORRECT, "documents").limit(20), "text")
    a = sorted(map(str, decode_blob_features(d, "doc_id", "blob").collect()))
    b = sorted(map(str, decode_blob_features(d, "doc_id", "blob").collect()))
    assert a == b
    row = decode_blob_features(d, "doc_id", "blob").first()
    assert row.n_bytes == sum(row.byte_hist)


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (worst case for min-label propagation: needs
    multiple rounds), a 2-clique, and an isolated pair — labels must be
    the component minimum regardless of edge orientation."""
    from sparkstreaming_spark.dedup.clusters import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11), (20, 21), (21, 20)],
        "doc_a bigint, doc_b bigint",
    )
    got = {
        r.node: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dup_clusters_survivors_partition_corpus(spark):
    """Survivor selection keeps exactly one doc per cluster and leaves
    singletons untouched; cluster sizes sum back to the corpus size."""
    from sparkstreaming_spark.dedup.clusters import dup_clusters

    docs = spark.range(1, 9).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    out = dup_clusters(docs, pairs, "doc_id").collect()
    assert len(out) == 8
    by_id = {r.doc_id: r for r in out}
    assert [by_id[i].cluster_id for i in range(1, 9)] == [1, 1, 1, 4, 5, 5, 7, 8]
    survivors = sorted(r.doc_id for r in out if r.is_survivor)
    assert survivors == [1, 4, 5, 7, 8]
    assert sum({r.cluster_id: r.cluster_size for r in out}.values()) == 8


def test_bm25_ranking_semantics(spark):
    """More occurrences of a rarer term → higher score; docs with no
    query term absent; longer doc with same tf scores lower (b>0)."""
    from sparkstreaming_spark.textstats.ranking import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark runs on a cluster"),
            (3, "spark runs on a very large and heavily loaded cluster"),
            (4, "nothing relevant here at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.bm25 for r in bm25_topk(docs, ["spark"]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] > out[2] > out[3]


def test_kmeans_separates_blobs(spark):
    """Three well-separated direction blobs → 3 pure clusters, and the
    fixed-iteration fit is deterministic across runs."""
    import numpy as np

    from sparkstreaming_spark.similarity.kmeans import (
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.default_rng(7)
    base = np.eye(3)
    rows = [
        (int(i), (base[i % 3] + 0.05 * rng.standard_normal(3)).tolist())
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    c1 = kmeans_fit(df, "vec_id", "embedding", k=3, iters=4)
    c2 = kmeans_fit(df, "vec_id", "embedding", k=3, iters=4)
    assert np.allclose(c1, c2)
    got = kmeans_assign(df, c1, "vec_id", "embedding").collect()
    by_blob: dict[int, set[int]] = {}
    for r in got:
        by_blob.setdefault(r.id % 3, set()).add(r.cluster)
    assert all(len(v) == 1 for v in by_blob.values())
    assert len(set().union(*by_blob.values())) == 3


def test_hash_split_is_stable_partition(spark):
    """Every row gets exactly one split; labels are a function of
    (salt, id) only — unchanged under repartitioning and corpus growth."""
    from sparkstreaming_spark.operators.sampling import with_split

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    base = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in with_split(base, "doc_id", w).collect()}
    assert len(a) == 500 and set(a.values()) <= {"train", "val", "test"}
    shuffled = with_split(base.repartition(13), "doc_id", w)
    assert {r.doc_id: r.split for r in shuffled.collect()} == a
    grown = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    g = {r.doc_id: r.split for r in with_split(grown, "doc_id", w).collect()}
    assert all(g[k] == v for k, v in a.items())
    frac = sum(1 for v in a.values() if v == "train") / 500
    assert 0.7 < frac < 0.9


def test_stratified_hash_sample_fractions(spark):
    """Each stratum lands near its own fraction; default applies to
    unlisted strata; repeated runs identical."""
    from sparkstreaming_spark.operators.sampling import stratified_hash_sample

    from pyspark.sql import functions as F

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )
    out = stratified_hash_sample(
        df, "doc_id", "src", {"s0": 0.5, "s1": 0.1}, default_fraction=0.0
    )
    counts = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    assert 400 < counts["s0"] < 600
    assert 60 < counts["s1"] < 140
    assert "s2" not in counts
    assert out.count() == out.count()


def test_resize_blob_fixed_width_and_determinism(spark):
    """Every output is exactly out_len bytes (stretch, pool, or zeros);
    repeated runs byte-identical."""
    from sparkstreaming_spark.multimodal.blobs import resize_blob, with_blob

    docs = spark.createDataFrame(
        [(1, "x" * 500), (2, "ab"), (3, "")], "doc_id bigint, text string"
    )
    d = with_blob(docs, "text")
    out = {r.id: r for r in resize_blob(d, "doc_id", out_len=16).collect()}
    assert all(len(bytes(r.resized)) == 16 for r in out.values())
    assert out[1].orig_bytes == 500 and out[3].orig_bytes == 0
    assert bytes(out[3].resized) == bytes(16)
    assert bytes(out[1].resized) == bytes([ord("x")] * 16)
    again = {r.id: bytes(r.resized) for r in resize_blob(d, "doc_id", out_len=16).collect()}
    assert {k: bytes(v.resized) for k, v in out.items()} == again


def test_sample_blob_frames_partitions_bytes(spark):
    """Frames are a partition of the blob: sizes sum to blob length and
    empty blobs yield n empty frames; real-decode path raises cleanly."""
    import pytest as _pytest

    from sparkstreaming_spark.multimodal.blobs import (
        sample_blob_frames,
        with_blob,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "")], "doc_id bigint, text string"
    )
    d = with_blob(docs, "text")
    rows = sample_blob_frames(d, "doc_id", n_frames=3).collect()
    sizes: dict[int, int] = {}
    for r in rows:
        sizes[r.id] = sizes.get(r.id, 0) + r.n_bytes
    assert sizes == {1: 10, 2: 0}
    with _pytest.raises(Exception, match="ffmpeg|RIFF"):
        sample_blob_frames(d, "doc_id", fake=False).collect()


def test_pii_scrub_redacts_and_counts(spark):
    """Emails/IPs/phones are replaced with typed tags and counted;
    clean text is PII-free under a rescan."""
    from sparkstreaming_spark.textstats.cleaning import scrub

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.org or bob@test.co thanks"),
            (2, "server at 192.168.0.1 answered"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "no pii whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in scrub(docs, "text").collect()}
    assert out[1].n_email == 2 and "[EMAIL]" in out[1].clean_text
    assert "@" not in out[1].clean_text
    assert out[2].n_ipv4 == 1 and "[IPV4]" in out[2].clean_text
    assert out[3].n_phone == 1 and "[PHONE]" in out[3].clean_text
    assert out[4].clean_text == "no pii whatsoever"
    rescan = {r.doc_id: r for r in scrub(
        scrub(docs, "text").select("doc_id", F.col("clean_text").alias("text")), "text"
    ).collect()}
    assert all(r.n_email == r.n_ipv4 == r.n_phone == 0 for r in rescan.values())


def test_repetition_signals(spark):
    """A doc that is one phrase repeated shows low distinct ratio and high
    top-2gram share; an all-unique doc shows ratio 1."""
    from sparkstreaming_spark.textstats.analysis import add_repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "buy now " * 20),
            (2, "every word here is completely different today"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in add_repetition_signals(docs, "text").collect()}
    assert out[1].distinct_ngram_ratio < 0.1
    assert out[1].top_ngram_share > 0.4
    assert out[2].distinct_ngram_ratio == 1.0
    assert out[3].n_ngrams == 0 and out[3].top_ngram_share == 0.0


def test_topk_sketch_matches_exact(spark):
    """The Misra-Gries sketch strategy returns the same top-k as the
    exact strategy whenever every true heavy hitter clears N/m."""
    from sparkstreaming_spark.textstats.heavy_hitters import top_k_tokens

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = [(r.token, r.cnt) for r in top_k_tokens(d, "text", k=20).collect()]
    sketch = [
        (r.token, r.cnt)
        for r in top_k_tokens(d, "text", k=20, strategy="sketch").collect()
    ]
    assert sketch == exact


def test_merge_upsert_semantics(spark):
    """Updates replace by key, new keys insert, tombstones delete,
    untouched rows pass through unchanged."""
    from sparkstreaming_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k bigint, v string, amt double",
    )
    updates = spark.createDataFrame(
        [(2, "B", 25.0, False), (4, "d", 40.0, False), (3, "c", 0.0, True)],
        "k bigint, v string, amt double, del boolean",
    )
    got = {r.k: (r.v, r.amt) for r in merge_upsert(
        target, updates, ["k"], delete_col="del"
    ).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 25.0), 4: ("d", 40.0)}


def test_chunk_tokens_windows(spark):
    """Chunks tile the token stream: stride spacing, overlap preserved,
    final partial kept, short/empty docs handled."""
    from sparkstreaming_spark.functions.text import chunk_tokens, tokenize

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id bigint, text string",
    )
    staged = docs.select("doc_id", tokenize("text").alias("toks"))
    out = staged.select(
        "doc_id", chunk_tokens("toks", chunk_size=4, overlap=2).alias("c")
    ).collect()
    by_id = {r.doc_id: [(c.chunk_idx, c.chunk) for c in r.c] for r in out}
    assert by_id[1] == [
        (0, "t0 t1 t2 t3"),
        (1, "t2 t3 t4 t5"),
        (2, "t4 t5 t6 t7"),
        (3, "t6 t7 t8 t9"),
    ]
    assert by_id[2] == [(0, "a b")]
    assert by_id[3] == []


def test_unigram_logprob_ranks_gibberish_lower(spark):
    """Docs made of rare tokens score lower mean log-prob than docs made
    of the corpus's common tokens."""
    from sparkstreaming_spark.textstats.analysis import add_unigram_logprob

    common = "the cat sat on the mat " * 5
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, "zqxj vbnk wpfh grtl")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.avg_logprob for r in add_unigram_logprob(docs, "text").collect()}
    assert out[3] < out[1]
    assert out[1] == out[2]


def test_pca_profile_matches_exact_numpy(spark):
    """Distributed PCA (per-partition algebraic partials) must equal the
    exact single-node covariance eigensolve, independent of partitioning."""
    import numpy as np

    from sparkstreaming_spark.similarity.pca import pca_variance_profile

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    got = {
        r.component: (r.eigenvalue, r.explained_ratio, r.cumulative_ratio)
        for r in pca_variance_profile(emb, "embedding", top=5).collect()
    }

    X = np.stack(
        emb.select("embedding").toPandas()["embedding"].to_numpy()
    ).astype("float64")
    cov = np.cov(X, rowvar=False, bias=True)
    evals = np.clip(np.linalg.eigvalsh(cov)[::-1], 0, None)
    ratios = evals / evals.sum()
    cum = np.cumsum(ratios)
    for i in range(5):
        ev, ra, cu = got[i + 1]
        assert abs(ev - evals[i]) < 1e-4
        assert abs(ra - ratios[i]) < 1e-4
        assert abs(cu - cum[i]) < 1e-4


def test_cms_estimates_within_error_bound(spark):
    """CMS guarantee: exact <= estimate <= exact + eps*N per group; absent
    probes estimate near zero (<= eps*N)."""
    from sparkstreaming_spark.functions.text import tokenize
    from sparkstreaming_spark.suite.llm import CMS_PROBES, q_cms_counts

    d = read_table(spark, SF_DIR_CORRECT, "documents")
    toks = d.select("lang", F.explode(tokenize("text")).alias("tok"))
    exact = {
        (r.lang, r.tok): r.cnt
        for r in toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("tok").isin(CMS_PROBES))
        .collect()
    }
    eps = 0.0005
    for r in q_cms_counts(spark, SF_DIR_CORRECT).collect():
        true = exact.get((r.lang, r.item), 0)
        assert r.est_count >= true
        assert r.est_count <= true + eps * r.n_items + 1


def test_kmeans_distributed_path_matches_driver_path(spark):
    """The distributed Lloyd rounds (train_size < n forces them) must
    produce the same centroids as the driver-side shortcut taken when the
    sample covers everything — they implement the same update."""
    import numpy as np

    from sparkstreaming_spark.similarity.kmeans import kmeans_fit

    rng = np.random.default_rng(11)
    base = np.eye(4)
    rows = [
        (int(i), (base[i % 4] + 0.05 * rng.standard_normal(4)).tolist())
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    driver = kmeans_fit(df, "vec_id", "embedding", k=4, iters=4, train_size=2048)
    distributed = kmeans_fit(df, "vec_id", "embedding", k=4, iters=4, train_size=200)
    assert np.allclose(driver, distributed, atol=1e-9)


def test_sq8_knn_recall_vs_exact(spark):
    """int8 quantization must keep recall@10 >= 0.9 against the exact
    float search (quantization noise is ~0.3% of value range per dim)."""
    from sparkstreaming_spark.similarity.quantized import sq8_knn

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sq8_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"SQ8 recall too low: {recall:.2f}"


def test_weighted_sample_biases_by_weight_and_plans_topk(spark):
    """Heavier rows must be sampled at a visibly higher rate than light
    rows (A-ES property), the sample is deterministic across calls, and
    the plan is TakeOrdered (per-partition partial top-k, no global
    sort)."""
    from sparkstreaming_spark.operators.sampling import weighted_hash_sample

    rows = [(i, 10.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    sample = weighted_hash_sample(df, "id", "w", k=400)
    ids1 = {r.id for r in sample.collect()}
    ids2 = {r.id for r in weighted_hash_sample(df, "id", "w", k=400).collect()}
    assert ids1 == ids2
    heavy = sum(1 for i in ids1 if i % 2 == 0)
    assert heavy > 300  # 10x weight -> heavy rows dominate the sample
    plan = sample._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_near_dup_blocked_matches_driver_path(spark):
    """The scale-safe blocked block-pair GEMM must produce the exact same
    pair set and cosines as the driver-broadcast path, including with a
    block count that forces multi-block (diagonal + off-diagonal) groups."""
    from sparkstreaming_spark.dedup.embedding import embedding_near_dup_pairs

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    driver = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4, mode="driver"
        ).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4, mode="blocked", n_blocks=4
        ).collect()
    }
    assert driver, "fixture should contain near-dup pairs at 0.4"
    assert blocked == driver


def test_near_dup_default_never_collects_corpus(spark, monkeypatch):
    """Registry default for emb_near_dup_cosine must not move the corpus
    through the driver: poison toPandas and run the query end-to-end."""
    import pyspark.sql.dataframe as df_mod

    from sparkstreaming_spark.suite.vectors import q_near_dup_cosine

    def boom(self):  # pragma: no cover - failure path
        raise AssertionError("driver-side toPandas() in scale-safe path")

    monkeypatch.setattr(df_mod.DataFrame, "toPandas", boom)
    n = q_near_dup_cosine(spark, SF_DIR_CORRECT).count()
    assert n > 0


def test_lsh_pairs_bucket_cap_drops_degenerate_bucket(spark):
    """A bucket larger than max_bucket_size is excluded from the
    in-bucket verify (quadratic-blowup guard); small buckets still pair."""
    from sparkstreaming_spark.dedup.embedding import embedding_near_dup_pairs

    # 30 identical vectors -> one hot bucket; 2 similar outliers elsewhere
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
    rows += [(100, [-1.0, -1.0, 0.0, 0.0]), (101, [-1.0, -0.9, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.4, lsh_planes=3, max_bucket_size=10
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert all(a >= 100 for a, _ in got), f"hot-bucket pairs leaked: {got}"
    uncapped = embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.4, lsh_planes=3, max_bucket_size=1000
    ).count()
    assert uncapped > len(got)


def test_pack_sequences_concat_then_chunk(spark):
    """Packing invariants on a single shard: offsets are the exclusive
    cumsum in doc_id order, sequence ids are offset//budget, and a doc
    straddling a cut belongs to every sequence it touches."""
    from sparkstreaming_spark.operators.packing import pack_sequences

    rows = [(1, 100), (2, 100), (3, 50), (4, 300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r.doc_id: (r.start_offset, r.seq_first, r.seq_last)
        for r in pack_sequences(df, "doc_id", "n_tokens", budget=128, n_shards=1).collect()
    }
    assert got[1] == (0, 0, 0)       # tokens [0,100)
    assert got[2] == (100, 0, 1)     # [100,200) straddles the 128 cut
    assert got[3] == (200, 1, 1)     # [200,250)
    assert got[4] == (250, 1, 4)     # [250,550) spans sequences 1..4


def test_pack_sequences_shards_partition_docs(spark):
    """Multi-shard: every doc lands in exactly one shard and per-shard
    offsets are dense (sum of tokens of earlier docs in that shard)."""
    from sparkstreaming_spark.operators.packing import pack_sequences

    d = read_table(spark, SF_DIR_CORRECT, "documents").select(
        "doc_id", (F.col("n_chars") / 4).cast("bigint").alias("n_tokens")
    )
    out = pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=4)
    assert out.count() == d.count()
    per_shard = out.groupBy("shard").agg(
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("stream_len"),
        F.sum("n_tokens").alias("token_sum"),
    )
    for r in per_shard.collect():
        assert r.stream_len == r.token_sum


def test_mixture_fractions_temperature_flattens(spark):
    """alpha=0.5 must upweight the rare source relative to proportional
    sampling, and fractions cap at 1.0."""
    from sparkstreaming_spark.operators.packing import mixture_fractions

    rows = [("common", i) for i in range(900)] + [("rare", i) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, x long")
    m = {r.source: r for r in mixture_fractions(df, "source", alpha=0.5, target_rows=200).collect()}
    assert m["common"].n_rows == 900 and m["rare"].n_rows == 100
    # n^0.5: 30 vs 10 -> rare weight 0.25 (vs 0.1 proportional)
    assert abs(m["rare"].weight - 0.25) < 1e-9
    assert abs(m["common"].weight - 0.75) < 1e-9
    assert m["rare"].fraction == 0.5      # 200*0.25/100
    assert abs(m["common"].fraction - 200 * 0.75 / 900) < 1e-9


def test_upsample_repeats_epochs(spark):
    from sparkstreaming_spark.operators.packing import upsample_repeats

    df = spark.createDataFrame([(1, 1), (2, 3)], "doc_id long, reps int")
    got = sorted(
        (r.doc_id, r.epoch)
        for r in upsample_repeats(df, "doc_id", "reps").collect()
    )
    assert got == [(1, 1), (2, 1), (2, 2), (2, 3)]


def test_shuffle_shards_deterministic_and_balanced(spark):
    """Training-order shuffle: (shard, pos) is a function of (salt, id)
    only — identical under repartitioning; positions are dense 1..k per
    shard; shards are within 3x of each other on a uniform corpus; a
    different salt produces a different order."""
    from sparkstreaming_spark.operators.layout import shuffle_shards

    base = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in shuffle_shards(base, "doc_id", n_shards=8).collect()
    }
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in shuffle_shards(base.repartition(13), "doc_id", n_shards=8).collect()
    }
    assert a == b
    by_shard: dict[int, list[int]] = {}
    for shard, pos in a.values():
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) == set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[-1] <= 3 * sizes[0]
    c = {
        r.doc_id: (r.shard, r.pos)
        for r in shuffle_shards(base, "doc_id", salt="other", n_shards=8).collect()
    }
    assert c != a


def test_length_curriculum_buckets_partition_corpus(spark):
    """Decile binning: buckets cover the corpus exactly once and are
    ordered by length (max of bucket i <= min of bucket i+1 can be
    violated only at ties on the boundary value — assert the weak
    monotonicity on bucket minima instead)."""
    from sparkstreaming_spark.suite import all_queries

    rows = all_queries()["doc_length_curriculum"].fn(
        spark, SF_DIR_CORRECT
    ).collect()
    total = sum(r.n_docs for r in rows)
    docs = read_table(spark, SF_DIR_CORRECT, "documents").count()
    assert total == docs
    by_bucket = sorted(rows, key=lambda r: r.bucket)
    mins = [r.min_chars for r in by_bucket]
    assert mins == sorted(mins)
    assert 1 <= len(by_bucket) <= 10


def test_nfc_normalize_composes(spark):
    """NFC over decomposed sequences: 'e'+U+0301 -> U+00E9 (one codepoint
    shorter), ASCII unchanged, None preserved."""
    from sparkstreaming_spark.textstats.cleaning import nfc_normalize

    df = spark.createDataFrame(
        [("a", "cafe\u0301"), ("b", "ascii only"), ("c", None)],
        "k string, s string",
    )
    got = {
        r.k: r.n
        for r in df.select("k", nfc_normalize("s").alias("n")).collect()
    }
    assert got["a"] == "caf\u00e9" and len(got["a"]) == 4
    assert got["b"] == "ascii only"
    assert got["c"] is None


def test_sq8_rerank_improves_on_coarse(spark):
    """Two-stage retrieval: shortlist-50 SQ8 then exact rerank must (a)
    score every kept pair bit-identically to brute force, and (b) reach
    recall@10 >= the sq8-only path (quantization error survives only as
    shortlist misses)."""
    from sparkstreaming_spark.similarity import brute_force_knn
    from sparkstreaming_spark.similarity.quantized import sq8_knn, sq8_rerank_knn

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_knn(emb, q, "vec_id", "embedding", k=10).collect()
    coarse = sq8_knn(emb, q, "vec_id", "embedding", k=10).collect()
    rerank = sq8_rerank_knn(
        emb, q, "vec_id", "embedding", k=10, shortlist=50
    ).collect()

    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in rerank:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(r.cosine - exact_scores[key]) < 1e-9, key

    exact_set = set(exact_scores)
    recall_coarse = len(exact_set & {(r.query_id, r.neighbor_id) for r in coarse}) / len(exact_set)
    recall_rerank = len(exact_set & {(r.query_id, r.neighbor_id) for r in rerank}) / len(exact_set)
    assert recall_rerank >= recall_coarse, (recall_rerank, recall_coarse)
    assert recall_rerank >= 0.9, f"rerank recall too low: {recall_rerank:.2f}"


def test_hard_negatives_blocked_equals_single_block(spark):
    """The blocked layout must not change answers: multi-block run equals
    the single-block run, every mined negative has a different label,
    and it is the true different-label argmax for spot-checked queries."""
    from sparkstreaming_spark.similarity.contrastive import hard_negatives

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    multi = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in hard_negatives(
            emb, "vec_id", "embedding", "label", rows_per_block=100
        ).collect()
    }
    single = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in hard_negatives(
            emb, "vec_id", "embedding", "label", n_blocks=1
        ).collect()
    }
    assert multi == single
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for q, (n, _c) in multi.items():
        assert labels[q] != labels[n], (q, n)


def test_incremental_dedup_plants_all_three_verdicts(spark):
    """Planted corpus/incoming: an exact copy (normalization-insensitive),
    a near-dup sharing >=50% of its 3-shingles, and a fresh doc."""
    from sparkstreaming_spark.dedup.incremental import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
        ],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            (10, "The quick brown fox jumps over the lazy dog!"),  # exact
            (11, "a quick brown fox jumps over the lazy dog"),  # near
            (12, "completely unrelated text about spark internals"),  # new
            (13, "hi"),  # too short to shingle -> new
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: (r.status, r.n_shingles, r.n_overlap, r.containment)
        for r in incremental_dedup(
            corpus, incoming, "doc_id", "text", n=3, near_threshold=0.5
        ).collect()
    }
    assert out[10][0] == "exact"
    assert out[11][0] == "near" and out[11][2] > 0
    assert out[12][0] == "new" and out[12][2] == 0
    assert out[13] == ("new", 0, 0, 0.0)


def test_semantic_dedup_min_id_domination(spark):
    """Planted chain a~b, b~c, a!~c (same cluster): min-id domination
    drops BOTH b and c (each has a smaller-id above-threshold neighbor);
    an unrelated cluster and a singleton survive untouched."""
    from sparkstreaming_spark.dedup.semdedup import semantic_dedup_dropped

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.9, 0.436, 0.0]),   # cos(1,2) ~ 0.9
        (3, 0, [0.62, 0.785, 0.0]),  # cos(2,3) ~ 0.9, cos(1,3) ~ 0.62
        (4, 1, [1.0, 0.0, 0.0]),     # other cluster: alone, kept
        (5, 0, [0.0, 0.0, 1.0]),     # orthogonal: kept
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    dropped = {
        r.id: r.best_dup_cos
        for r in semantic_dedup_dropped(
            df, "vec_id", "embedding", "label", threshold=0.8
        ).collect()
    }
    assert set(dropped) == {2, 3}
    assert dropped[2] >= 0.8 and dropped[3] >= 0.8


def test_semantic_dedup_cluster_size_guard(spark):
    from sparkstreaming_spark.dedup.semdedup import semantic_dedup_dropped

    df = spark.createDataFrame(
        [(i, 0, [float(i), 1.0]) for i in range(5)], ["vec_id", "label", "embedding"]
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_cluster_size"):
        semantic_dedup_dropped(
            df, "vec_id", "embedding", "label", threshold=0.99, max_cluster_size=2
        ).collect()


def test_strip_markup_semantics(spark):
    from sparkstreaming_spark.textstats.cleaning import strip_markup

    rows = [
        (1, '<a href="x">link</a> text'),
        (2, "a &amp;&nbsp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
        (3, "&amp;lt;"),          # double-encoded: one decode level only
        (4, "<br/><br/>  "),      # collapses to empty
        (5, "plain"),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    out = {r.i: r.c for r in df.select("i", strip_markup("t").alias("c")).collect()}
    assert out[1] == "link text"
    assert out[2] == 'a & b <tag> "q" \'s\''
    assert out[3] == "&lt;"
    assert out[4] == ""
    assert out[5] == "plain"


def test_pq_knn_recall_vs_exact(spark):
    """PQ/ADC (m=32 subspaces x 64 centroids on d=64) must recover most
    of the exact top-10, and the ADC score must approximate the true
    cosine for the pairs it returns. NOTE these synthetic embeddings are
    near-isotropic — PQ's worst case (no cluster structure to exploit) —
    so the config is finer than a real-embedding deployment would need;
    measured recall ~0.88 here."""
    from sparkstreaming_spark.similarity.knn import brute_force_knn
    from sparkstreaming_spark.similarity.pq import pq_knn

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_knn(emb, q, "vec_id", "embedding", k=10).collect()
    approx = pq_knn(emb, q, "vec_id", "embedding", k=10, m=32, ksub=64).collect()
    exact_map = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(set(exact_map) & approx_set) / len(exact_map)
    assert recall >= 0.7, f"PQ recall too low: {recall:.2f}"
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_map:
            assert abs(r.cosine - exact_map[(r.query_id, r.neighbor_id)]) < 0.15


def test_token_budget_plan_allocates_and_flags(spark):
    import pandas as pd

    from sparkstreaming_spark.operators.sampling import token_budget_plan

    rows = [(0, "a " * 400, "big"), (1, "b " * 100, "small")]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    out = {r["source"]: r.asDict()
           for r in token_budget_plan(df, "text", "source", 5000).collect()}
    assert out["big"]["n_tokens"] == 400 and out["small"]["n_tokens"] == 100
    # sqrt flattening: big gets 2x the allocation of small (sqrt 400/100)
    assert abs(out["big"]["alloc_tokens"] - 2 * out["small"]["alloc_tokens"]) <= 2
    # allocations sum to ~budget (floor slack < n_sources)
    total = out["big"]["alloc_tokens"] + out["small"]["alloc_tokens"]
    assert 4998 <= total <= 5000
    # small source must repeat far more: epochs = alloc/n
    assert out["small"]["epochs_milli"] > out["big"]["epochs_milli"]
    # 5000-token budget over 500 tokens -> both far over 4 epochs
    assert out["big"]["over_epoch_limit"] and out["small"]["over_epoch_limit"]
    under = token_budget_plan(df, "text", "source", 500).collect()
    assert not any(r["over_epoch_limit"] for r in under)


def test_cluster_balanced_sample_rates_and_determinism(spark):
    """Per-cluster keep-rate ~ cap/n_c (hash-rate form), small clusters
    keep everything (rate 1), the kept set is deterministic across
    re-partitionings, and the plan has no window."""
    from sparkstreaming_spark.operators.sampling import (
        cluster_balanced_sample,
    )

    rows = ([(i, "big") for i in range(2000)]
            + [(10_000 + i, "small") for i in range(40)])
    df = spark.createDataFrame(rows, "id bigint, cluster string")
    out = cluster_balanced_sample(df, "id", "cluster", cap=100)
    got = {(r.id, r.cluster): (r.n_cluster, r.keep) for r in out.collect()}
    assert len(got) == 2040
    # small cluster: cap >= n -> keep all
    assert all(got[(10_000 + i, "small")] == (40, True) for i in range(40))
    kept_big = sum(1 for (i, c), (_, k) in got.items() if c == "big" and k)
    # rate 100/2000 = 5%: hash-uniformity keeps this near 100
    assert 60 <= kept_big <= 140, kept_big
    # deterministic under re-partitioning
    out2 = cluster_balanced_sample(
        df.repartition(13), "id", "cluster", cap=100)
    got2 = {(r.id, r.cluster): (r.n_cluster, r.keep)
            for r in out2.collect()}
    assert got == got2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_chat_template_mask_spans_point_at_assistant_content(spark):
    # independent python verification: re-derive each doc's mask spans
    # from the RENDERED string itself and check the emitted checksums
    # — an off-by-one in any header/trailer length cannot survive this
    from sparkstreaming_spark.suite.llm import (
        CHAT_MAX_TURNS,
        CHAT_WORDS_PER_TURN,
        q_chat_template,
    )

    rows = (q_chat_template(spark, SF_DIR_CORRECT)
            .filter(F.col("doc_id") < 40).collect())
    assert rows
    docs = {
        r["doc_id"]: (r["text"], r["lang"], r["source"])
        for r in read_table(spark, SF_DIR_CORRECT, "documents")
        .filter(F.col("doc_id") < 40).collect()
    }
    import re as _re

    for r in rows:
        text, lang, source = docs[r["doc_id"]]
        words = _re.split(r"\s+", text)
        n_turns = min(
            (len(words) + CHAT_WORDS_PER_TURN - 1) // CHAT_WORDS_PER_TURN,
            CHAT_MAX_TURNS,
        )
        assert r["n_turns"] == n_turns
        # rebuild the render independently
        parts = [f"<|im_start|>system\nlang={lang} source={source}"
                 "<|im_end|>\n"]
        spans = []
        off = len(parts[0])
        for i in range(n_turns):
            role = "user" if i % 2 == 0 else "assistant"
            content = " ".join(
                words[i * CHAT_WORDS_PER_TURN : (i + 1)
                      * CHAT_WORDS_PER_TURN])
            hdr = f"<|im_start|>{role}\n"
            if role == "assistant":
                spans.append((off + len(hdr), len(content)))
            seg = hdr + content + "<|im_end|>\n"
            parts.append(seg)
            off += len(seg)
        rendered = "".join(parts)
        assert r["rendered"] == rendered
        assert r["render_len"] == len(rendered)
        assert r["mask_start_sum"] == sum(s for s, _ in spans)
        assert r["mask_len_sum"] == sum(n for _, n in spans)
        # the spans really cover assistant content in the render
        for s, n in spans:
            assert rendered[s : s + n] in rendered
            assert rendered[s - 1] == "\n"
            assert rendered[s + n : s + n + 10] == "<|im_end|>"


def test_dpo_pairs_properties(spark):
    from sparkstreaming_spark.suite.llm import q_dpo_pairs

    rows = q_dpo_pairs(spark, SF_DIR_CORRECT).collect()
    assert rows, "corpus should yield preference pairs"
    seen_chosen, seen_rejected = set(), set()
    for r in rows:
        assert r["margin_ppm"] > 0
        assert r["chosen_id"] != r["rejected_id"]
        # a document appears at most once per side
        assert r["chosen_id"] not in seen_chosen
        assert r["rejected_id"] not in seen_rejected
        seen_chosen.add(r["chosen_id"])
        seen_rejected.add(r["rejected_id"])
    # pairing is best-vs-worst: within a (lang, bucket) group the
    # rank-1 pair has the LARGEST margin
    by_group = {}
    for r in rows:
        by_group.setdefault((r["lang"], r["bucket"]), []).append(r)
    for grp in by_group.values():
        grp.sort(key=lambda r: r["pair_rank"])
        margins = [r["margin_ppm"] for r in grp]
        assert margins == sorted(margins, reverse=True), grp


def test_span_corruption_pairs_rederive_in_python(spark):
    # independent python re-derivation of the T5-style corruption:
    # the sentinel positions, removed tokens, and both rendered
    # strings must match the Spark HOF construction exactly
    import hashlib
    import re as _re

    from sparkstreaming_spark.suite.llm import (
        SPANC_L,
        SPANC_W,
        q_span_corruption,
    )

    rows = (q_span_corruption(spark, SF_DIR_CORRECT)
            .filter(F.col("doc_id") < 30).collect())
    docs = {
        r["doc_id"]: r["text"]
        for r in read_table(spark, SF_DIR_CORRECT, "documents")
        .filter(F.col("doc_id") < 30).collect()
    }
    for r in rows:
        words = _re.split(r"\s+", docs[r["doc_id"]])
        n = len(words)
        nw = n // SPANC_W
        inp, tgt, ssum = [], [], 0
        for w in range(nw):
            h = int(hashlib.md5(
                f"{r['doc_id']}:{w}".encode()).hexdigest()[:15], 16)
            ls = h % (SPANC_W - SPANC_L + 1)
            gs = w * SPANC_W + ls
            ssum += gs
            sent = f"<extra_id_{w}>"
            inp += words[w * SPANC_W : gs] + [sent] \
                + words[gs + SPANC_L : (w + 1) * SPANC_W]
            tgt += [sent] + words[gs : gs + SPANC_L]
        inp += words[nw * SPANC_W :]
        assert r["n_tokens"] == n
        assert r["n_windows"] == nw
        assert r["n_corrupted"] == nw * SPANC_L
        assert r["span_start_sum"] == ssum
        assert r["input_text"] == " ".join(inp)
        assert r["target_text"] == " ".join(tgt)
        # objective invariants: token conservation and sentinel parity
        assert len(inp) + nw * SPANC_L == n + nw
        assert r["target_text"].count("<extra_id_") == nw


def test_length_batching_ledger_properties(spark):
    from sparkstreaming_spark.suite.llm import (
        BATCH_TOKENS,
        BUCKET_STEP,
        q_length_batching,
    )

    rows = q_length_batching(spark, SF_DIR_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["bucket_len"] % BUCKET_STEP == 0
        # padding to the next step multiple wastes < one step per seq
        assert 0 <= r["pad_waste_ppm"] < 1000000 * BUCKET_STEP / (
            r["bucket_len"] - BUCKET_STEP + 1)
        spb = max(1, BATCH_TOKENS // r["bucket_len"])
        assert r["n_batches"] == -(-r["n_docs"] // spb)
        # bucketing never wastes more than the unbucketed regime
        assert r["pad_waste_ppm"] <= r["unbucketed_waste_ppm"]


def test_near_dup_auto_mode_routes_by_corpus_size(spark):
    """mode='auto' (the default) must pick the exact blocked GEMM at or
    below auto_exact_ceiling and escalate to capped-bucket LSH past it —
    verified by equality with each explicitly-forced path on the same
    corpus (the LSH hyperplanes are seeded, so its output is
    deterministic)."""
    from sparkstreaming_spark.dedup.embedding import (
        AUTO_LSH_PLANES,
        embedding_near_dup_pairs,
    )

    emb = read_table(spark, SF_DIR_CORRECT, "embeddings")

    def pairs(**kw):
        return {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dup_pairs(
                emb, "vec_id", "embedding", threshold=0.4, **kw
            ).collect()
        }

    exact = pairs(mode="blocked")
    assert exact, "fixture should contain near-dup pairs at 0.4"
    # below the ceiling: auto == exact blocked
    assert pairs(mode="auto") == exact
    # past the ceiling (forced tiny): auto == the LSH path it escalates to
    lsh = pairs(lsh_planes=AUTO_LSH_PLANES)
    auto_big = pairs(mode="auto", auto_exact_ceiling=1)
    assert auto_big == lsh
    # and the escalated result is genuinely the approximate one: a subset
    # of the exact pair set (recall <= 1 by construction)
    assert set(auto_big) <= set(exact)
