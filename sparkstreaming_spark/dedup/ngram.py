"""Exact n-gram Jaccard pairs via inverted-index join.

explode distinct shingles → self-join on shingle → count common per pair →
Jaccard from per-doc shingle counts. No cross join: candidate pairs only
exist where a shingle co-occurs.

Scale caveat (documented, by design): a shingle appearing in m docs
contributes O(m²) pair rows, so boilerplate shingles blow up the join.
`max_doc_freq` drops shingles above a document-frequency cap — the
standard inverted-index mitigation; at production scale prefer the
MinHash-LSH pipeline (dedup/minhash.py) and use this as the verifier.

The cap DEFAULTS ON ("auto" = max(100, ceil(1% of corpus docs))): an
uncapped call on a boilerplate-heavy corpus quadratic-bombs the join,
and a caller who wants the genuinely uncapped all-pairs semantics must
say so with max_doc_freq=None. The 1%-of-corpus floor means the cap is
a no-op on corpora without hot shingles (every df stays below it), so
default results only differ where the blow-up would have happened.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _resolve_doc_freq_cap(
    df: DataFrame, max_doc_freq: int | str | None
) -> int | None:
    """"auto" → max(100, ceil(0.01 · n_docs)); int/None pass through.
    The corpus count is ONE bounded scalar aggregate (not a hot-path
    collect)."""
    if max_doc_freq != "auto":
        return max_doc_freq
    n_docs = df.count()
    return max(100, -(-n_docs // 100))

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | str | None = "auto",
    toks_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set Jaccard ≥ threshold.

    `toks_df` optionally supplies a prebuilt (doc_id, toks) token-array
    frame over df (minhash.token_arrays output, ideally checkpointed) so
    a caller running SEVERAL tokenization consumers over the same corpus
    pays the tokenize pass once."""
    from .minhash import _explode_shingles, _shingle_sets

    # toks_df has one row per doc: count it instead of the raw corpus
    max_doc_freq = _resolve_doc_freq_cap(df if toks_df is None else toks_df, max_doc_freq)
    # materialize the exploded shingles once (lazy localCheckpoint, so
    # the blocks are GC-reclaimed instead of CacheManager-pinned): they
    # feed the doc-frequency pass (when capping), the per-doc sizes, and
    # BOTH sides of the self-join — without it Spark re-runs the
    # tokenize+shingle+hash projection per consumer (~1.6x wall-clock
    # measured at sf0.1)
    sh = _explode_shingles(
        _shingle_sets(df, id_col, text_col, shingle_n, toks_df=toks_df)
    ).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(freq.filter(F.col("df") <= max_doc_freq), "shingle").select(
            "doc_id", "shingle"
        ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, common.doc_a == F.col("sa.doc_id"))
        .join(sb, common.doc_b == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | str | None = "auto",
) -> DataFrame:
    """(doc_a, doc_b, containment): |S(a) ∩ S(b)| / |S(a)| ≥ threshold,
    over ORDERED pairs (a != b) — containment is asymmetric.

    Catches what Jaccard structurally cannot: a short document quoted or
    embedded inside a long one has near-1.0 containment but tiny Jaccard
    (the union is dominated by the long side) — the quote/subset-dedup
    case in training-data curation. Same inverted-index join shape (and
    the same `max_doc_freq` hot-shingle cap tradeoff) as
    ngram_jaccard_pairs above."""
    from .minhash import _explode_shingles, _shingle_sets

    # materialize the exploded shingles once (lazy localCheckpoint, so
    # the blocks are GC-reclaimed instead of CacheManager-pinned): they
    # feed the doc-frequency pass (when capping), the per-doc sizes, and
    # BOTH sides of the self-join — without it Spark re-runs the
    # tokenize+shingle+hash projection per consumer (~1.6x wall-clock
    # measured at sf0.1)
    max_doc_freq = _resolve_doc_freq_cap(df, max_doc_freq)
    sh = _explode_shingles(
        _shingle_sets(df, id_col, text_col, shingle_n)
    ).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(freq.filter(F.col("df") <= max_doc_freq), "shingle").select(
            "doc_id", "shingle"
        ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.alias("sa")
    return (
        common.join(sa, common.doc_a == F.col("sa.doc_id"))
        .withColumn(
            "containment", F.round(F.col("common") / F.col("sa.n_sh"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
