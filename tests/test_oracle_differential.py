"""Primary correctness gate (SURVEY §5.1): every suite query with an oracle
runs on Spark AND DuckDB at sf0.01; results must match on row count, column
names, and order-insensitive values — same contract the driver enforces."""

from __future__ import annotations

import pytest

from sparkstreaming_spark.suite import all_queries
from tests.conftest import SF_DIR_CORRECT
from tests.oracle_util import assert_frames_match

REGISTRY = all_queries()
WITH_ORACLE = sorted(name for name, spec in REGISTRY.items() if spec.oracle)
ROWS_ONLY = sorted(name for name, spec in REGISTRY.items() if not spec.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, SF_DIR_CORRECT).toPandas()
    duck_pdf = duck.sql(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_DIR_CORRECT)
    assert len(df.columns) > 0
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_registry_oracles_all_parse(duck):
    """Every registered oracle must at least EXPLAIN in DuckDB — catches
    SQL rot in specs the slower differential tests don't all cover."""
    from sparkstreaming_spark.suite import all_queries

    specs = all_queries()
    assert len(specs) >= 70
    missing_oracle = [n for n, s in specs.items() if s.oracle is None]
    # rows-only entries must stay the documented exceptions (iterative /
    # approximate / stubbed-codec ops), never silent omissions
    assert set(missing_oracle) <= {
        "emb_kmeans_profile",  # iterative; paired hash-oracled emb_kmeans_contract
        "doc_blob_features",
        "emb_pca_profile",  # eigensolve not SQL; paired emb_pca_contract + NumPy parity
        "doc_cms_counts",  # sketch estimates; error bound pinned by test
        "doc_bpe_merges",  # iterative BPE; pure-Python reference parity test
        "doc_bpe_encode",  # encodes with learned merges; path-parity test
        "doc_unigram_train",  # iterative EM; pure-Python reference parity
        # test + ORACLED doc_unigram_encode losslessness/bounds contract
        "layout_hilbert_key",  # iterative bit rotation; xy2d parity test
        "doc_audio_bands",  # FFT; NumPy parity + oracled doc_audio_tone_detect twin
        "graph_kcore",  # iterative peel; planted K6-vs-chain test
    }, missing_oracle
    for name, spec in specs.items():
        if spec.oracle is not None:
            duck.execute(f"EXPLAIN {spec.oracle}")


# --- Critical-smoke subset -------------------------------------------------
# The driver's per-round CORRECTNESS run samples ~50 of the 276 registered
# queries; these are the highest-complexity queries that have never been
# drawn across rounds 1-4 (ranked by bench cost + algorithmic surface).
# They run inside the full differential anyway; this named list exists so
# a FAST targeted pass (`python tools/smoke.py`, ~2 min) can pin exactly
# these after any refactor, instead of waiting on the 6-minute full sim.
CRITICAL_NEVER_SAMPLED = [
    "stream_quota_gate",
    "stream_chained_windows",
    "stream_incremental_dedup",
    "stream_broker_enriched",
    "stream_broker_topic",
    "stream_running_stats",
    "doc_dedup_eval",
    "doc_ngram_jaccard",
    "doc_ngram_containment",
    "doc_simhash_pairs",
    "doc_minhash_pairs",
    "doc_dup_clusters",
    "doc_curation_pipeline",
    "doc_incremental_dedup",
    "doc_decontam",
    "emb_knn_pq",
    "emb_knn_rerank",
    "emb_pca_contract",
    "emb_kmeans_contract",
    "emb_hard_negatives",
    "graph_kcore",
    "graph_triangles",
    # round-6 additions with the most algorithmic surface
    "doc_ccnet_buckets",
    "doc_doremi_weights",
    "doc_unigram_encode",
    "doc_line_dedup",
    "stream_lm_gate",
    # round-8 additions with the most algorithmic surface
    "doc_chat_template",
    "doc_dpo_pairs",
    "stream_neardup_gate",
    "doc_span_corruption",
    "doc_length_batching",
    # round-9 additions with the most algorithmic surface
    "doc_image_neardup",
    "doc_audio_neardup",
    "doc_image_dup_clusters",
    "doc_image_dedup_eval",
    "stream_image_gate",
    "stream_audio_gate",
    # round-10 additions with the most algorithmic surface
    "doc_image_neardup_hq",
    "doc_audio_dup_clusters",
    "doc_audio_dedup_eval",
]


def test_critical_smoke_list_is_registered():
    """The smoke list must stay in sync with the registry — a renamed or
    dropped query here silently un-pins its coverage."""
    missing = [n for n in CRITICAL_NEVER_SAMPLED if n not in REGISTRY]
    assert not missing, missing


def test_rows_only_queries_all_have_invariants(spark):
    """Every rows-only registry entry must carry an executable in-sim
    invariant (suite/invariants.py) — the driver's correctness run
    reports a real verdict for them, never a bare row count. Executes
    one cheap invariant end-to-end as a smoke of the harness contract
    (signature, None-on-pass)."""
    from sparkstreaming_spark.suite import all_queries
    from sparkstreaming_spark.suite.invariants import INVARIANTS

    specs = all_queries()
    rows_only = {n for n, s in specs.items() if s.oracle is None}
    assert rows_only == set(INVARIANTS), rows_only ^ set(INVARIANTS)

    pdf = specs["layout_hilbert_key"].fn(spark, SF_DIR_CORRECT).toPandas()
    assert INVARIANTS["layout_hilbert_key"](spark, SF_DIR_CORRECT, pdf) is None
