"""True-sf1 generator: a GENUINE 10x-of-sf0.1 dataset with fresh ids and
fresh content, NOT replication. Replicating every document 10x
inflates document-frequency
statistics (shingle df, token df, idf) in a way real corpora don't —
BASELINE.md flags doc_tfidf_cosine's 10x row as distorted by it. This
generator re-runs the same statistical PROCESS the driver testdata
follows at 10x the row counts, so df-shaped operators are judged on
honest statistics:

- documents: fresh uniform draws over the same 31-word vocabulary, the
  same length distribution, the same lang/source marginals, and freshly
  planted duplicate structure at the observed per-corpus RATE (exact-dup
  pairs ~0.16% of docs; ~6 near-dup rotation-clusters of ~10 docs per
  1000 docs, matching the measured 250-docs-in-clusters / 5000 at sf0.1)
- embeddings: fresh random unit vectors (the sf0.1 vectors carry no
  label cohesion or planted near-dups — measured), labels uniform 0..9
- events: fresh time-ordered uniform timestamps over 30 days, 10x the
  user population, same type/value/props marginals
- TPC-H tables: fresh keys and attribute draws from the measured sf0.1
  marginals (uniform keys reproduce the observed ~e^-4 orders-without-
  lineitems rate); region/nation are canonical fixed dimensions and are
  copied as-is, exactly as TPC-H itself scales

All distribution parameters below were measured from
/root/testdata/sf0.1 (see BASELINE.md round-10 notes).

Usage: python tools/gen_sf1.py [out_dir]   (default /tmp/sf1_true)
"""
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.1"
SEED = 777
FACTOR = 10

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=200_000)
    print(f"{name}: {table.num_rows} rows", flush=True)


def gen_documents(rng: np.random.Generator, out_dir: str, n: int) -> None:
    # token counts: uniform 8..104 reproduces the measured n_chars
    # quantiles (103 / 295 / 493, min 44, max 577)
    counts = rng.integers(8, 105, size=n)
    toks = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), size=c)])
        for c in counts
    ]
    # near-dup clusters: ~6 clusters of ~10 per 1000 docs (measured: 250
    # docs in jaccard-1.0 clusters per 5000). Members are token-list
    # ROTATIONS of a fresh base doc — 2-gram sets differ only at the
    # boundary, so jaccard stays ~(S-2)/S, well above every threshold.
    n_clusters = (6 * n) // 1000
    cluster_ids = rng.choice(n, size=(n_clusters, 10), replace=False)
    for row in cluster_ids:
        # one RNG draw kept INTENTIONALLY (result unused): removing it
        # would shift the seeded stream and silently regenerate a corpus
        # different from the one behind the published BENCH_SF1_TRUE
        # numbers. Remove only together with a full sf1 re-baseline.
        rng.integers(0, len(VOCAB))
        base_toks = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=60)]
        for j, did in enumerate(row):
            rot = np.roll(base_toks, 7 * j)
            toks[int(did)] = " ".join(rot)
    # exact-dup pairs: 8 per 5000 docs (measured)
    n_pairs = (8 * n) // 5000
    pair_ids = rng.choice(n, size=(n_pairs, 2), replace=False)
    for a, b in pair_ids:
        toks[int(b)] = toks[int(a)]
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    source = np.char.add("src", rng.integers(0, 20, size=n).astype(str))
    _write(
        out_dir,
        "documents",
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": pa.array(toks, pa.string()),
                "lang": pa.array(lang, pa.string()),
                "source": pa.array(source, pa.string()),
                "n_chars": pa.array(
                    np.array([len(t) for t in toks], dtype=np.int64), pa.int64()
                ),
            }
        ),
    )


def gen_embeddings(rng: np.random.Generator, out_dir: str, n: int) -> None:
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    _write(
        out_dir,
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(e), pa.list_(pa.float32())),
                "label": pa.array(
                    rng.integers(0, 10, size=n).astype(np.int32), pa.int32()
                ),
            }
        ),
    )


def gen_events(rng: np.random.Generator, out_dir: str, n: int, n_users: int) -> None:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(t0 + (rng.random(n) * span).astype(np.int64))
    _write(
        out_dir,
        "events",
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(ts.view("datetime64[us]")),
                "user_id": pa.array(
                    rng.integers(0, n_users, size=n), pa.int64()
                ),
                "event_type": pa.array(
                    rng.choice(
                        ["view", "click", "purchase", "signup", "error"], size=n
                    ),
                    pa.string(),
                ),
                "value": pa.array(
                    np.round(rng.exponential(50.0, size=n), 2), pa.float64()
                ),
                "props": pa.array(
                    [
                        '{"k": %d}' % k
                        for k in rng.integers(0, 100, size=n)
                    ],
                    pa.string(),
                ),
            }
        ),
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def gen_tpch(rng: np.random.Generator, out_dir: str, f: int) -> None:
    # canonical fixed dims, copied (TPC-H scales these at every SF)
    for t in ("region", "nation"):
        shutil.copyfile(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")
        print(f"{t}: copied fixed dim", flush=True)

    n_cust, n_supp, n_part = 150_000 * f // 10, 10_000 * f // 10, 200_000 * f // 10
    n_ord, n_li = 1_500_000 * f // 10, 6_000_000 * f // 10

    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(
            [f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(
            rng.integers(0, 25, size=n_cust).astype(np.int32), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            size=n_cust), pa.string()),
    }))

    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(
            [f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(
            rng.integers(0, 25, size=n_supp).astype(np.int32), pa.int32()),
        "s_acctbal": pa.array(_money(rng, 0, 9999.99, n_supp)),
    }))

    adjs = ["large", "hot", "blue", "red", "small", "cold", "green", "dark"]
    nouns = ["ring", "bolt", "cap", "nut", "gear", "pin", "rod", "clip"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(adjs, size=n_part), " "),
            rng.choice(nouns, size=n_part)), pa.string()),
        "p_brand": pa.array(np.char.add(
            "Brand#", rng.integers(1, 26, size=n_part).astype(str)),
            pa.string()),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD", "PROMO"],
            size=n_part), pa.string()),
        "p_size": pa.array(
            rng.integers(1, 51, size=n_part).astype(np.int32), pa.int32()),
        "p_retailprice": pa.array(
            np.round(rng.uniform(900.0, 999.9, size=n_part), 1)),
    }))

    d0 = np.datetime64("1995-01-01").astype("datetime64[D]").astype(np.int64)
    d1 = np.datetime64("2001-08-01").astype("datetime64[D]").astype(np.int64)
    odate = rng.integers(d0, d1 + 1, size=n_ord).astype("datetime64[D]")
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            rng.choice(["O", "P", "F"], size=n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[ms]")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_ord), pa.string()),
    }))

    s0 = np.datetime64("1995-01-02").astype("datetime64[D]").astype(np.int64)
    s1 = np.datetime64("2001-11-04").astype("datetime64[D]").astype(np.int64)
    sdate = rng.integers(s0, s1 + 1, size=n_li).astype("datetime64[D]")
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(
            rng.integers(1, 8, size=n_li).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(
            rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(
            np.round(rng.integers(0, 11, size=n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_li) / 100.0, 2)),
        "l_returnflag": pa.array(
            rng.choice(["A", "N", "R"], size=n_li), pa.string()),
        "l_linestatus": pa.array(
            rng.choice(["F", "O"], size=n_li), pa.string()),
        "l_shipdate": pa.array(sdate.astype("datetime64[ms]")),
    }))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_true"
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    t0 = time.perf_counter()
    gen_documents(rng, out_dir, 5000 * FACTOR)
    gen_embeddings(rng, out_dir, 2000 * FACTOR)
    gen_events(rng, out_dir, 100_000 * FACTOR, 1500 * FACTOR)
    gen_tpch(rng, out_dir, FACTOR)
    print(f"true sf1 generated in {time.perf_counter() - t0:.1f}s -> {out_dir}")


if __name__ == "__main__":
    main()
