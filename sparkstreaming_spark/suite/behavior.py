"""Behavioral / association analytics: Markov event transitions,
market-basket association (support + lift), and deterministic-split
Welch A/B testing.

The reference's analytics stop at KPI counts (Consumer.scala:127-149);
these are the next-layer behavioral queries a product-analytics engine
over the same event feed serves. All three are oracle-checked against
DuckDB.

Scale notes (100 TB posture):
- Transitions: ONE window sort per user partition; the transition
  matrix aggregate is |types|^2 rows, so the probability window runs on
  a trivially small table.
- Basket lift: per-basket brand sets are built with one hash aggregate,
  pairs are generated IN-ROW from the sorted set (triangle-count
  convention, operators/graph.py:155) — no basket self-join, so a hot
  order cannot go quadratic across the wire; the pair fan-out is
  C(brands_per_order, 2), bounded by the basket width cap.
- A/B test: pure partial-aggregable conditional stats (count/avg/var
  over when()), one shuffle of 6 doubles per event_type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.window import WindowSpec
from pyspark.sql import functions as F

from ..functions.text import md5_64
from ..sources.batch import read_table
from . import QuerySpec


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event Markov transition matrix: P(next | current)
    over event-time order (event_id tie-break makes the order total).
    One window sort keyed by user; the conditional-probability window
    runs over the |types|^2-row aggregate, not the events."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = steps.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("cnt"))
    wt = Window.partitionBy("cur")
    return trans.select(
        "cur",
        "nxt",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(wt), 6).alias("p"),
    )


ORACLE_MARKOV = """
WITH s AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
t AS (SELECT cur, nxt, count(*) AS cnt FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
SELECT cur, nxt, cnt,
       round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY cur), 6) AS p
FROM t
"""


MIN_PAIR_ORDERS = 5
MAX_BASKET_BRANDS = 64


def q_basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over orders: for each unordered pair of
    part brands co-occurring in an order, support = P(both in basket)
    and lift = P(a,b) / (P(a) P(b)), min-support filtered.

    Spark shape: part is broadcast onto lineitem; baskets are one hash
    aggregate to a sorted distinct-brand array; pairs are expanded
    IN-ROW (i < j over the sorted array) so there is no basket
    self-join — a hot basket costs C(w, 2) narrow rows, not a shuffled
    join key with w^2 remote matches. `MAX_BASKET_BRANDS` caps w (a
    pathological mega-basket degrades to quadratic work in exactly one
    row; the cap turns that into a loud skip). Brand and pair supports
    are tiny aggregates; the scalar basket total rides in via a
    broadcast 1-row cross join, keeping the whole plan collect-free."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    # baskets feed the width guard, pair expansion, brand supports, and
    # the scalar total — persist so the lineitem join+aggregate runs once
    baskets = ob.groupBy("l_orderkey").agg(
        F.sort_array(F.array_distinct(F.collect_list("p_brand"))).alias("brands")
    ).persist()
    wide = baskets.filter(F.size("brands") > MAX_BASKET_BRANDS).limit(1).count()
    if wide:
        raise ValueError(
            f"basket wider than MAX_BASKET_BRANDS={MAX_BASKET_BRANDS}; "
            "in-row pair expansion would be quadratic — raise the cap "
            "knowingly or pre-trim baskets"
        )
    pair = F.explode(
        F.expr(
            "flatten(transform(sequence(0, size(brands)-2), i -> "
            "transform(slice(brands, i+2, size(brands)-i-1), x -> "
            "struct(brands[i] AS brand_a, x AS brand_b))))"
        )
    ).alias("pr")
    pc = (
        baskets.filter(F.size("brands") >= 2)
        .select(pair)
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    bc = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("c").alias("c_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("c").alias("c_b"))
    return (
        pc.filter(F.col("pair_orders") >= MIN_PAIR_ORDERS)
        .join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "pair_orders",
            F.round(F.col("pair_orders") / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("pair_orders") * F.col("n_orders")
                / (F.col("c_a") * F.col("c_b")),
                6,
            ).alias("lift"),
        )
    )


ORACLE_BASKET_LIFT = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
pc AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS pair_orders
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
),
bc AS (SELECT p_brand, count(*) AS c FROM ob GROUP BY 1)
SELECT brand_a, brand_b, pair_orders,
       round(pair_orders * 1.0 / n_orders, 6) AS support,
       round(pair_orders * 1.0 * n_orders / (ca.c * cb.c), 6) AS lift
FROM pc
CROSS JOIN n
JOIN bc ca ON pc.brand_a = ca.p_brand
JOIN bc cb ON pc.brand_b = cb.p_brand
WHERE pair_orders >= {MIN_PAIR_ORDERS}
"""


AB_SALT = "ab-v1:"


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test per event_type: users are split into
    variants A/B by deterministic hash (md5_64 parity — the engine-wide
    cross-engine-stable convention, functions/text.py:81), and the mean
    `value` difference is scored as z = (mA - mB) / sqrt(sA^2/nA +
    sB^2/nB). Everything is a partial-aggregable conditional stat — one
    shuffle of six doubles per event_type, no second pass."""
    ev = read_table(spark, sf_dir, "events")
    variant = md5_64(
        F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))
    ) % 2
    tagged = ev.select("event_type", "value", variant.alias("v"))
    in_a, in_b = F.col("v") == 0, F.col("v") == 1
    agg = tagged.groupBy("event_type").agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        F.avg(F.when(in_a, F.col("value"))).alias("m_a"),
        F.avg(F.when(in_b, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(in_a, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(in_b, F.col("value"))).alias("v_b"),
    )
    se = F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b"))
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round((F.col("m_a") - F.col("m_b")) / se, 6).alias("welch_z"),
    )


ORACLE_AB_TEST = f"""
WITH t AS (
  SELECT event_type, value,
         cast(('0x' || substr(md5('{AB_SALT}' || cast(user_id AS varchar)), 1, 15))
              AS bigint) % 2 AS v
  FROM events
),
agg AS (
  SELECT event_type,
         count(*) FILTER (WHERE v = 0) AS n_a,
         count(*) FILTER (WHERE v = 1) AS n_b,
         avg(value) FILTER (WHERE v = 0) AS m_a,
         avg(value) FILTER (WHERE v = 1) AS m_b,
         var_samp(value) FILTER (WHERE v = 0) AS v_a,
         var_samp(value) FILTER (WHERE v = 1) AS v_b
  FROM t GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round(m_a, 6) AS mean_a,
       round(m_b, 6) AS mean_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS welch_z
FROM agg
"""


QUERIES: dict[str, QuerySpec] = {
    "evt_markov_transitions": QuerySpec(
        q_markov_transitions,
        ORACLE_MARKOV,
        "per-user Markov transition matrix (one window sort, tiny prob window)",
    ),
    "basket_brand_lift": QuerySpec(
        q_basket_brand_lift,
        ORACLE_BASKET_LIFT,
        "market-basket support/lift, in-row pair expansion (no self-join)",
    ),
    "evt_ab_test": QuerySpec(
        q_ab_test,
        ORACLE_AB_TEST,
        "deterministic-split Welch z-test, one conditional-stats pass",
    ),
}


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift change-point per event_type: cumulative sum of
    (hourly mean − series mean) peaks exactly where the level changes;
    the argmax of |CUSUM| is the classic single-change-point estimate.

    Scale shape: events collapse to an hourly rollup FIRST (one hash
    aggregate), so every window below runs on the bucketed series —
    |types| × hours rows, not raw events. The series mean is a window
    aggregate over that tiny table; the cumulative sum is an ordered
    window (deterministic addition order ⇒ cross-engine identical); the
    argmax is max_by on the rounded magnitude with a timestamp
    tie-break, no second sort."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.avg("value").alias("v"))
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = hourly.select(
        "event_type",
        "bucket",
        (F.col("v") - F.avg("v").over(wt)).alias("d"),
    )
    cusum = dev.select(
        "event_type",
        "bucket",
        F.round(F.abs(F.sum("d").over(wc)), 6).alias("mag"),
    )
    return cusum.groupBy("event_type").agg(
        F.max_by(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss"),
            F.struct(F.col("mag"), (-F.unix_timestamp("bucket")).alias("tb")),
        ).alias("change_ts"),
        F.round(F.max("mag"), 6).alias("max_cusum"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


ORACLE_CUSUM = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, avg(value) AS v
  FROM events GROUP BY 1, 2
),
dev AS (
  SELECT event_type, bucket,
         v - avg(v) OVER (PARTITION BY event_type) AS d
  FROM hourly
),
cusum AS (
  SELECT event_type, bucket,
         round(abs(sum(d) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS mag
  FROM dev
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY mag DESC, bucket ASC) AS rk
  FROM cusum
)
SELECT r.event_type, strftime(r.bucket, '%Y-%m-%d %H:%M:%S') AS change_ts,
       (SELECT max(mag) FROM cusum c WHERE c.event_type = r.event_type)
         AS max_cusum,
       (SELECT count(*) FROM cusum c WHERE c.event_type = r.event_type)
         AS n_buckets
FROM ranked r WHERE r.rk = 1
"""


QUERIES["evt_cusum_changepoint"] = QuerySpec(
    q_cusum_changepoint,
    ORACLE_CUSUM,
    "CUSUM mean-shift change-point per type (windows on the hourly rollup)",
)


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: Gini coefficient and top-decile
    share of per-customer revenue — the inequality profile that drives
    "whales vs long tail" product decisions.

    Scale shape: orders collapse to one row per customer FIRST (hash
    aggregate with map-side partials); the ranking window then sorts
    customers WITHIN nations — the per-nation slice, never a global
    sort. Revenue is rounded to 4 dp before ranking so the rank frontier
    (and therefore Gini) is cross-engine deterministic."""
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("rev")
    )
    tagged = rev.join(
        F.broadcast(cust), rev.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_name").orderBy("rev", "o_custkey")
    wn = Window.partitionBy("n_name")
    ranked = tagged.select(
        "n_name",
        "rev",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # G = 2*sum(i*rev) / (n*sum(rev)) - (n+1)/n   (ascending-rank form)
    top_flag = F.when(F.col("i") > F.col("n") - F.ceil(F.col("n") / 10), F.col("rev"))
    return ranked.groupBy("n_name").agg(
        F.max("n").alias("n_customers"),
        F.round(
            2 * F.sum(F.col("i") * F.col("rev")) / (F.max("n") * F.sum("rev"))
            - (F.max("n") + 1) / F.max("n"),
            6,
        ).alias("gini"),
        F.round(F.sum(top_flag) / F.sum("rev"), 6).alias("top_decile_share"),
    )


ORACLE_REVENUE_GINI = """
WITH rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 4) AS rev
  FROM orders GROUP BY 1
),
tagged AS (
  SELECT n.n_name, r.rev, r.o_custkey
  FROM rev r
  JOIN customer c ON r.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT n_name, rev,
         row_number() OVER (PARTITION BY n_name ORDER BY rev, o_custkey) AS i,
         count(*) OVER (PARTITION BY n_name) AS n
  FROM tagged
)
SELECT n_name, max(n) AS n_customers,
       round(2.0 * sum(i * rev) / (max(n) * sum(rev))
             - (max(n) + 1.0) / max(n), 6) AS gini,
       round(sum(CASE WHEN i > n - ceil(n / 10.0) THEN rev END) / sum(rev), 6)
         AS top_decile_share
FROM ranked GROUP BY n_name
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of event values — the classic fraud /
    synthetic-data detector. The leading digit comes from exact integer
    arithmetic (floor(value*100) stringified), never log10 of a double,
    so both engines bucket identically. One conditional aggregate pass;
    the output is 9 rows regardless of input size."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    base = ev.filter(F.col("value") >= 0.01).select(digit.alias("digit"))
    wn = Window.partitionBy()
    return (
        base.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.sum("n_obs").over(wn), 6).alias("obs_share"),
            F.round(F.log10(1 + 1 / F.col("digit")), 6).alias("benford_share"),
        )
    )


ORACLE_BENFORD = """
WITH d AS (
  SELECT cast(substr(cast(cast(floor(value * 100) AS BIGINT) AS varchar), 1, 1)
              AS int) AS digit
  FROM events WHERE value >= 0.01
),
c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1)
SELECT digit, n_obs,
       round(n_obs * 1.0 / sum(n_obs) OVER (), 6) AS obs_share,
       round(log10(1 + 1.0 / digit), 6) AS benford_share
FROM c
"""


QUERIES["rev_gini_by_nation"] = QuerySpec(
    q_revenue_gini,
    ORACLE_REVENUE_GINI,
    "Gini + top-decile revenue concentration (per-nation window on the "
    "customer rollup)",
)
QUERIES["evt_benford"] = QuerySpec(
    q_benford,
    ORACLE_BENFORD,
    "Benford first-digit audit (exact integer bucketing, one pass)",
)


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: does mean(value) differ by
    type? F = between-group mean square / within-group mean square.
    ONE partial-aggregable pass reduces the corpus to (n, mean, var) per
    type; every remaining term is arithmetic over that k-row table (k =
    |types|), so the query ships k×3 doubles regardless of input size —
    the textbook "sufficient statistics" shape for distributed stats."""
    ev = read_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.round(
            (
                (
                    F.sum(F.col("n") * F.col("m") * F.col("m"))
                    - F.sum(F.col("n") * F.col("m")) * F.sum(F.col("n") * F.col("m"))
                    / F.sum("n")
                )
                / (F.count(F.lit(1)) - 1)
            )
            / (
                F.sum((F.col("n") - 1) * F.col("s2"))
                / (F.sum("n") - F.count(F.lit(1)))
            ),
            6,
        ).alias("f_stat"),
    )


ORACLE_ANOVA = """
WITH g AS (
  SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS s2
  FROM events GROUP BY 1
)
SELECT count(*) AS k, cast(sum(n) AS BIGINT) AS n_total,
       round(
         ((sum(n * m * m) - sum(n * m) * sum(n * m) / sum(n))
          / (count(*) - 1))
         / (sum((n - 1) * s2) / (sum(n) - count(*))), 6) AS f_stat
FROM g
"""


QUERIES["evt_anova_f"] = QuerySpec(
    q_anova_f,
    ORACLE_ANOVA,
    "one-way ANOVA F via sufficient statistics (k x 3 doubles shuffled)",
)


def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the standard model-eval artifact: score events
    by `value`, label = purchase, bucket into score deciles, report
    per-decile response rate and cumulative lift vs the base rate.

    Scale shape (the q_length_curriculum pattern): pass 1 computes the 9
    exact decile boundaries of the score as a tiny percentile aggregate
    (9 doubles to the driver), pass 2 buckets every event against the
    broadcast boundary literals inside whole-stage codegen — NO global
    ntile sort, so no single-task WindowExec over the fact table (the
    round-3 version's scale ceiling). Ties at a boundary go to the
    higher decile (`value < bound` test) identically in both engines
    because both compare against the same 6-dp-rounded literals;
    everything after runs on the ≤10-row decile table, where the
    cumulative/base-rate windows are free."""
    ev = read_table(spark, sf_dir, "events")
    val = F.col("value").cast("double")
    # descending deciles: bounds[0] = 0.9-quantile … bounds[8] = 0.1-quantile
    bounds = ev.select(
        F.percentile(
            val, F.array(*[F.lit(p / 10) for p in range(9, 0, -1)])
        ).alias("b")
    ).first()["b"]
    bounds = [round(float(b), 6) for b in bounds or []]
    bucket = F.lit(1)
    for b in bounds:
        bucket = bucket + F.when(val < F.lit(b), 1).otherwise(0)
    scored = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        bucket.cast("int").alias("decile"),
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("n_pos"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("response_rate"),
        F.round(
            (F.sum("n_pos").over(wcum) / F.sum("n").over(wcum))
            / (F.sum("n_pos").over(wall) / F.sum("n").over(wall)),
            6,
        ).alias("cum_lift"),
    )


_LIFT_BUCKET_CASES = " + ".join(
    f"(CASE WHEN CAST(value AS DOUBLE) < round(bs[{i + 1}], 6) "
    "THEN 1 ELSE 0 END)"
    for i in range(9)
)

ORACLE_LIFT = f"""
WITH bounds AS (
  SELECT quantile_cont(CAST(value AS DOUBLE),
                       [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1]) AS bs
  FROM events
),
scored AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
         CAST(1 + {_LIFT_BUCKET_CASES} AS INT) AS decile
  FROM events, bounds
),
per AS (
  SELECT decile, count(*) AS n, cast(sum(label) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1
)
SELECT decile, n, n_pos,
       round(n_pos * 1.0 / n, 6) AS response_rate,
       round((sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) * 1.0 /
              sum(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW))
             / (sum(n_pos) OVER () * 1.0 / sum(n) OVER ()), 6) AS cum_lift
FROM per
"""


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank-sum identity:
    AUC = (Σ midranks(positives) − n⁺(n⁺+1)/2) / (n⁺ n⁻), with midranks
    handling score ties exactly.

    Scale shape: the fact table is first reduced to per-distinct-score
    label counts (one hash-partitioned aggregate — scores are 2-dp
    doubles, so the distinct-score table is bounded by the score RANGE,
    not the event count, and plateaus as data grows). Only that
    aggregate flows through the rank window, so the single-task sort
    the round-3 version ran over every event now touches |distinct
    scores| rows. Midrank math is unchanged and exact: a tie group of
    c rows with cumulative count `cum` has midrank cum − (c−1)/2, and
    the group contributes pos·midrank to the positive rank sum."""
    ev = read_table(spark, sf_dir, "events")
    g = (
        ev.select(
            F.col("value").alias("s"),
            (F.col("event_type") == "purchase").cast("int").alias("label"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("label").alias("pos"),
        )
    )
    wc = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    mid = g.select(
        "c",
        "pos",
        (F.sum("c").over(wc) - (F.col("c") - 1) / 2).alias("mr"),
    )
    return mid.agg(
        F.sum("pos").alias("n_pos"),
        (F.sum("c") - F.sum("pos")).alias("n_neg"),
        F.round(
            (
                F.sum(F.col("pos") * F.col("mr"))
                - F.sum("pos") * (F.sum("pos") + 1) / 2
            )
            / (F.sum("pos") * (F.sum("c") - F.sum("pos"))),
            6,
        ).alias("auc"),
    )


ORACLE_AUC = """
WITH scored AS (
  SELECT value AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
ranked AS (
  SELECT label,
         rank() OVER (ORDER BY s)
           + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS mr
  FROM scored
)
SELECT cast(sum(label) AS BIGINT) AS n_pos,
       cast(count(*) - sum(label) AS BIGINT) AS n_neg,
       round((sum(CASE WHEN label = 1 THEN mr END)
              - sum(label) * (sum(label) + 1) / 2.0)
             / (sum(label) * (count(*) - sum(label))), 6) AS auc
FROM ranked
"""


QUERIES["evt_lift_curve"] = QuerySpec(
    q_lift_curve,
    ORACLE_LIFT,
    "decile lift table (one exact-decile sort; tiny-table windows after)",
)
QUERIES["evt_auc"] = QuerySpec(
    q_auc,
    ORACLE_AUC,
    "exact ROC AUC via Mann-Whitney midranks (tie-exact)",
)


def q_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: the seasonal-naive predictor (this hour =
    same hour yesterday) scored per event_type with MAE and MAPE — the
    baseline every real forecaster must beat, and the standard shape of
    a backtest harness (align lag-k predictions, aggregate errors).
    Windows run on the hourly rollup (one lag-24 per type), never the
    raw events."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.avg("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    paired = hourly.select(
        "event_type",
        "v",
        F.lag("v", 24).over(w).alias("pred"),
    ).filter(F.col("pred").isNotNull())
    return paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.avg(F.abs(F.col("v") - F.col("pred"))), 6).alias("mae"),
        F.round(
            F.avg(F.abs(F.col("v") - F.col("pred")) / F.abs("v")), 6
        ).alias("mape"),
    )


ORACLE_BACKTEST = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, avg(value) AS v
  FROM events GROUP BY 1, 2
),
paired AS (
  SELECT event_type, v,
         lag(v, 24) OVER (PARTITION BY event_type ORDER BY bucket) AS pred
  FROM hourly
)
SELECT event_type, count(*) AS n_hours,
       round(avg(abs(v - pred)), 6) AS mae,
       round(avg(abs(v - pred) / abs(v)), 6) AS mape
FROM paired WHERE pred IS NOT NULL
GROUP BY event_type
"""


K_ANON = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (lang, source,
    length-bucket): how many documents sit in equivalence classes
    smaller than k — the re-identification risk measure a privacy
    review runs before release. One hash aggregate to the class table,
    one conditional rollup; output is 2 rows (at-risk / safe) with
    class and doc counts."""
    d = read_table(spark, sf_dir, "documents")
    classes = d.select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
    ).groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.select(
            F.when(F.col("class_size") < K_ANON, "at_risk")
            .otherwise("safe")
            .alias("status"),
            "class_size",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_docs"),
            F.min("class_size").alias("min_class"),
            F.max("class_size").alias("max_class"),
        )
    )


ORACLE_K_ANON = f"""
WITH classes AS (
  SELECT lang, source, floor(n_chars / 100) AS len_bucket,
         count(*) AS class_size
  FROM documents GROUP BY 1, 2, 3
)
SELECT CASE WHEN class_size < {K_ANON} THEN 'at_risk' ELSE 'safe' END AS status,
       count(*) AS n_classes,
       cast(sum(class_size) AS BIGINT) AS n_docs,
       min(class_size) AS min_class,
       max(class_size) AS max_class
FROM classes GROUP BY 1
"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): events not dominated on
    (value high, recency high) — the multi-objective shortlist pattern
    (price-vs-quality, score-vs-freshness) without the O(n^2)
    dominance self-join: in the total order (value desc, ts desc,
    event_id), keep rows whose timestamp strictly exceeds the running
    max of everything above them.

    Scale shape — the classic DISTRIBUTED prefix scan, replacing the
    round-3 single-task global window: (1) `repartitionByRange` on the
    total order splits the sort across tasks with partition p holding
    strictly-earlier rows than partition p+1; (2) a per-partition max(ts)
    aggregate ships ≤ #partitions rows to the driver, whose prefix-max
    gives each partition the running max of everything before it;
    (3) one Arrow `mapInPandas` pass over the range-sorted partitions
    folds that broadcast prefix into a vectorized cumulative max and
    filters locally. No stage ever holds more than one partition of the
    fact table; the only driver collect is #partitions scalars."""
    import numpy as np

    ev = read_table(spark, sf_dir, "events").select("event_id", "value", "ts")
    npart = max(int(spark.sparkContext.defaultParallelism), 2)
    parted = (
        ev.repartitionByRange(
            npart, F.desc("value"), F.desc("ts"), F.asc("event_id")
        )
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    # bounded driver collect: one (pid, max_ts) row per partition
    maxima = {
        int(r["pid"]): r["m"]
        for r in parted.groupBy("pid").agg(F.max("ts").alias("m")).collect()
    }
    prefix_ns: dict[int, int] = {}
    best = None
    for pid in sorted(maxima):
        prefix_ns[pid] = -(2**62) if best is None else int(best)
        m_ns = int(np.datetime64(maxima[pid], "ns").astype("int64"))
        best = m_ns if best is None else max(best, m_ns)

    def _scan(batches):
        run = None  # int64-ns running max of all rows strictly above
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = prefix_ns.get(int(pdf["pid"].iloc[0]), -(2**62))
            ts_ns = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
            above = np.empty_like(ts_ns)
            above[0] = run
            np.maximum(np.maximum.accumulate(ts_ns)[:-1], run, out=above[1:])
            keep = ts_ns > above
            run = max(run, int(ts_ns.max()))
            out = pdf.loc[keep, ["event_id", "value", "ts"]].copy()
            out["value"] = out["value"].round(6)
            out["ts"] = out["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
            yield out

    return (
        parted.sortWithinPartitions(
            F.desc("value"), F.desc("ts"), F.asc("event_id")
        )
        .mapInPandas(_scan, "event_id bigint, value double, ts string")
    )


ORACLE_SKYLINE = """
WITH ranked AS (
  SELECT event_id, value, ts,
         max(ts) OVER (ORDER BY value DESC, ts DESC, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_ts_above
  FROM events
)
SELECT event_id, round(value, 6) AS value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
FROM ranked
WHERE best_ts_above IS NULL OR ts > best_ts_above
"""


QUERIES["evt_backtest_mae"] = QuerySpec(
    q_backtest_mae,
    ORACLE_BACKTEST,
    "seasonal-naive forecast backtest (lag-24 on the hourly rollup)",
)
QUERIES["doc_k_anonymity"] = QuerySpec(
    q_k_anonymity,
    ORACLE_K_ANON,
    "k-anonymity privacy audit (quasi-identifier class rollup)",
)
QUERIES["evt_skyline"] = QuerySpec(
    q_skyline,
    ORACLE_SKYLINE,
    "2-D Pareto skyline via one running-max window (no dominance self-join)",
)


ATTR_WINDOW_H = 24
ATTR_MAX_TOUCHES = 100


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit equally across the user's view/click touchpoints in the
    prior 24 h; output is total credit and reached conversions per
    channel. The touch join is a per-user equi join with a time-window
    residual (per-user activity bounds the fan-out); the credit split
    is a count window over each conversion's touch set — conversation-
    sized partitions, shuffled once on the conversion id.

    Skew guard: a bot user with millions of touches would make its
    conversions' credit windows quadratic-ish; credit is computed over
    the LAST `ATTR_MAX_TOUCHES` touchpoints per conversion (row_number
    in the same conv-id window — no extra shuffle), which is also the
    standard attribution-tool semantics. The cap is mirrored in the
    oracle; it is a no-op on this corpus (max touches/conversion well
    under 100), so exactness still holds."""
    ev = read_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("conv_id"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    j = conv.join(touch, conv.cu == touch.tu).filter(
        (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_H} HOURS"))
    )
    wr = Window.partitionBy("conv_id").orderBy(
        F.desc("t_ts"), "channel"
    )
    recent = j.select(
        "conv_id", "channel", F.row_number().over(wr).alias("rn")
    ).filter(F.col("rn") <= ATTR_MAX_TOUCHES)
    wc = Window.partitionBy("conv_id")
    credited = recent.select(
        "conv_id",
        "channel",
        (F.lit(1.0) / F.count(F.lit(1)).over(wc)).alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.round(F.sum("credit"), 6).alias("total_credit"),
        F.count_distinct("conv_id").alias("n_conversions"),
    )


ORACLE_ATTRIBUTION = f"""
WITH conv AS (
  SELECT user_id AS cu, ts AS p_ts, event_id AS conv_id
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id AS tu, ts AS t_ts, event_type AS channel
  FROM events WHERE event_type IN ('view', 'click')
),
matched AS (
  SELECT conv_id, channel,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY t_ts DESC, channel) AS rn
  FROM conv JOIN touch ON cu = tu
  WHERE t_ts <= p_ts AND t_ts > p_ts - INTERVAL {ATTR_WINDOW_H} HOUR
),
j AS (
  SELECT conv_id, channel,
         1.0 / count(*) OVER (PARTITION BY conv_id) AS credit
  FROM matched WHERE rn <= {ATTR_MAX_TOUCHES}
)
SELECT channel, round(sum(credit), 6) AS total_credit,
       count(DISTINCT conv_id) AS n_conversions
FROM j GROUP BY channel
"""


QUERIES["evt_attribution"] = QuerySpec(
    q_attribution,
    ORACLE_ATTRIBUTION,
    "linear multi-touch attribution (per-user window join, per-conversion "
    "credit split)",
)


def q_path_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    mix, rolled up by how many distinct types the user touches. Two
    hash aggregates (user×type counts → per-user entropy) and a tiny
    rollup — no windows, no joins; entropy folds as Σ -p·ln p from the
    per-user partials."""
    ev = read_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    wu = Window.partitionBy("user_id")
    per_user = (
        ut.select(
            "user_id",
            (F.col("c") / F.sum("c").over(wu)).alias("p"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
        )
    )
    return per_user.groupBy("n_types").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("entropy"), 6).alias("avg_entropy"),
        F.round(F.max("entropy"), 6).alias("max_entropy"),
    )


ORACLE_PATH_ENTROPY = """
WITH ut AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
pu AS (
  SELECT user_id, count(*) AS n_types,
         round(-sum(p * ln(p)), 6) AS entropy
  FROM (
    SELECT user_id,
           c * 1.0 / sum(c) OVER (PARTITION BY user_id) AS p
    FROM ut
  ) GROUP BY user_id
)
SELECT n_types, count(*) AS n_users,
       round(avg(entropy), 6) AS avg_entropy,
       round(max(entropy), 6) AS max_entropy
FROM pu GROUP BY n_types
"""


OUTAGE_GAP_S = 300


def q_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health monitor: inter-arrival gaps per event_type (lag over
    event-time order), reporting gaps above the outage threshold and the
    worst gap — the freshness/completeness check every ingestion SLA
    dashboard runs. One window sort per type; integer-second gap
    arithmetic is exact in both engines."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum((F.col("gap_s") > OUTAGE_GAP_S).cast("int")).alias("n_outages"),
        F.max("gap_s").alias("max_gap_s"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
    )


ORACLE_OUTAGE = f"""
WITH gaps AS (
  SELECT event_type,
         cast(floor(epoch(ts)) - floor(epoch(lag(ts) OVER
              (PARTITION BY event_type ORDER BY ts, event_id))) AS BIGINT)
           AS gap_s
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       cast(sum(CASE WHEN gap_s > {OUTAGE_GAP_S} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outages,
       max(gap_s) AS max_gap_s,
       round(avg(gap_s), 4) AS avg_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


QUERIES["evt_path_entropy"] = QuerySpec(
    q_path_entropy,
    ORACLE_PATH_ENTROPY,
    "per-user behavior-mix entropy rollup (two hash aggregates)",
)
QUERIES["evt_outage_gaps"] = QuerySpec(
    q_outage_gaps,
    ORACLE_OUTAGE,
    "inter-arrival gap / outage monitor (one window sort per type)",
)


DEBOUNCE_GAP_S = 5


def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce dedup: within each (user, type) stream, a burst CHAIN —
    consecutive events each < 5 s from the previous — collapses to its
    FIRST event (the duplicate-click / retry-storm filter). Chain
    semantics are exactly gap-sessionization: lag-flag islands, first
    row per island, ONE window sort per (user, type). (A fixed-rate
    THROTTLE — gap measured from the last KEPT event — is inherently
    sequential; the streaming side of that is capped_sessionize in
    streaming/stateful.py.) Reported as kept/dropped counts per type."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = ev.select(
        "event_type",
        (
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
                >= DEBOUNCE_GAP_S
            )
        )
        .cast("int")
        .alias("new_burst"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_burst").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("new_burst")).alias("n_debounced"),
    )


ORACLE_DEBOUNCE = f"""
WITH flagged AS (
  SELECT event_type,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER
                   (PARTITION BY user_id, event_type ORDER BY ts, event_id)))
                   >= {DEBOUNCE_GAP_S}
              THEN 1 ELSE 0 END AS new_burst
  FROM events
)
SELECT event_type, count(*) AS n_events,
       cast(sum(new_burst) AS BIGINT) AS n_kept,
       cast(count(*) - sum(new_burst) AS BIGINT) AS n_debounced
FROM flagged GROUP BY event_type
"""


QUERIES["evt_debounce"] = QuerySpec(
    q_debounce,
    ORACLE_DEBOUNCE,
    "debounce/throttle dedup via burst islands (one window sort)",
)


def q_activity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap with within-day share —
    the load-profile matrix behind capacity planning. One partial-agg
    pass; the share window runs over the 168-row matrix."""
    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("dow")
    return cells.select(
        "dow",
        "hod",
        "n",
        F.round(F.col("n") / F.sum("n").over(wd), 6).alias("day_share"),
    )


# DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday — shift to match
ORACLE_ACTIVITY_MATRIX = """
WITH cells AS (
  SELECT cast(dayofweek(ts) + 1 AS INT) AS dow,
         cast(hour(ts) AS INT) AS hod,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT dow, hod, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY dow), 6) AS day_share
FROM cells
"""


QUERIES["evt_activity_matrix"] = QuerySpec(
    q_activity_matrix,
    ORACLE_ACTIVITY_MATRIX,
    "hour x day-of-week load matrix (one pass; share window on 168 rows)",
)


def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on the hourly series per event_type: a peak
    is a bucket strictly above BOTH neighbors and above the series mean
    + 1 stddev — the alerting primitive behind traffic-spike monitors.
    All windows run on the hourly rollup; per-type stats ride in as
    window aggregates over the same tiny table."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    wt = Window.partitionBy("event_type")
    flagged = hourly.select(
        "event_type",
        "bucket",
        "n",
        (
            (F.col("n") > F.lag("n").over(w))
            & (F.col("n") > F.lead("n").over(w))
            & (
                F.col("n")
                > F.avg("n").over(wt) + F.stddev_samp("n").over(wt)
            )
        ).alias("is_peak"),
    )
    return flagged.filter("is_peak").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_peaks"),
        F.max("n").alias("tallest_peak"),
        F.date_format(F.max_by("bucket", F.struct("n", "bucket")), "yyyy-MM-dd HH:mm:ss").alias(
            "tallest_peak_at"
        ),
    )


ORACLE_PEAKS = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
flagged AS (
  SELECT event_type, bucket, n,
         n > lag(n) OVER (PARTITION BY event_type ORDER BY bucket)
         AND n > lead(n) OVER (PARTITION BY event_type ORDER BY bucket)
         AND n > avg(n) OVER (PARTITION BY event_type)
               + stddev_samp(n) OVER (PARTITION BY event_type) AS is_peak
  FROM hourly
),
peaks AS (SELECT * FROM flagged WHERE is_peak),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY n DESC, bucket DESC) AS rk
  FROM peaks
)
SELECT p.event_type, count(*) AS n_peaks,
       max(p.n) AS tallest_peak,
       strftime(max(CASE WHEN r.rk = 1 THEN r.bucket END),
                '%Y-%m-%d %H:%M:%S') AS tallest_peak_at
FROM peaks p LEFT JOIN ranked r
  ON p.event_type = r.event_type AND p.bucket = r.bucket AND r.rk = 1
GROUP BY p.event_type
"""


QUERIES["evt_peak_detection"] = QuerySpec(
    q_peak_detection,
    ORACLE_PEAKS,
    "local-peak alerting on the hourly rollup (neighbor + sigma test)",
)


def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational latency profile: order→ship days per order priority
    (avg / p50 / p90 / max). One broadcast-joined scan of lineitem; the
    percentiles are exact (integer day latencies)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("days"), 4).alias("avg_days"),
        F.round(F.percentile("days", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("days", F.lit(0.9)), 4).alias("p90_days"),
        F.max("days").alias("max_days"),
    )


ORACLE_SHIP_LATENCY = """
WITH lat AS (
  SELECT o_orderpriority, date_diff('day', o_orderdate, l_shipdate) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, count(*) AS n_lines,
       round(avg(days), 4) AS avg_days,
       round(quantile_cont(days, 0.5), 4) AS p50_days,
       round(quantile_cont(days, 0.9), 4) AS p90_days,
       max(days) AS max_days
FROM lat GROUP BY o_orderpriority
"""


CHURN_DAYS = 7


def q_inactive_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn detector: users whose LAST event is > 7 days before the
    feed's max timestamp, vs active users — with average staleness per
    group. Two tiny aggregates (per-user max ts, then the split); the
    corpus-wide max rides in as a broadcast scalar. Integer-day
    arithmetic keeps both engines exact."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    mx = ev.agg(F.max("ts").alias("max_ts"))
    staleness = F.floor(
        (F.unix_timestamp("max_ts") - F.unix_timestamp("last_ts")) / 86400
    )
    return (
        per_user.crossJoin(F.broadcast(mx))
        .select(
            F.when(staleness > CHURN_DAYS, "inactive")
            .otherwise("active")
            .alias("status"),
            staleness.alias("stale_days"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("stale_days"), 4).alias("avg_stale_days"),
            F.max("stale_days").alias("max_stale_days"),
        )
    )


ORACLE_INACTIVE = f"""
WITH per_user AS (
  SELECT user_id, max(ts) AS last_ts FROM events GROUP BY 1
),
mx AS (SELECT max(ts) AS max_ts FROM events),
tagged AS (
  SELECT CASE WHEN floor((floor(epoch(max_ts)) - floor(epoch(last_ts)))
                    / 86400) > {CHURN_DAYS}
              THEN 'inactive' ELSE 'active' END AS status,
         floor((floor(epoch(max_ts)) - floor(epoch(last_ts))) / 86400)
           AS stale_days
  FROM per_user CROSS JOIN mx
)
SELECT status, count(*) AS n_users,
       round(avg(stale_days), 4) AS avg_stale_days,
       cast(max(stale_days) AS BIGINT) AS max_stale_days
FROM tagged GROUP BY status
"""


QUERIES["ord_ship_latency"] = QuerySpec(
    q_ship_latency,
    ORACLE_SHIP_LATENCY,
    "order→ship latency profile per priority (exact integer percentiles)",
)
QUERIES["evt_inactive_users"] = QuerySpec(
    q_inactive_users,
    ORACLE_INACTIVE,
    "churn/staleness split (two tiny aggregates + broadcast scalar)",
)


def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth per event_type: volume + % change vs the
    previous month (lag window on the monthly rollup — the executive
    trend table). NULL change for each type's first month."""
    ev = read_table(spark, sf_dir, "events")
    monthly = ev.groupBy(
        F.date_trunc("month", "ts").alias("month"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("month")
    return monthly.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "event_type",
        "n",
        F.round(
            (F.col("n") - F.lag("n").over(w)) * 100.0 / F.lag("n").over(w), 4
        ).alias("pct_change"),
    )


ORACLE_MOM = """
WITH monthly AS (
  SELECT date_trunc('month', ts) AS month, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(month, '%Y-%m') AS month, event_type, n,
       round((n - lag(n) OVER (PARTITION BY event_type ORDER BY month))
             * 100.0 / lag(n) OVER (PARTITION BY event_type ORDER BY month),
             4) AS pct_change
FROM monthly
"""


QUERIES["evt_mom_change"] = QuerySpec(
    q_mom_change,
    ORACLE_MOM,
    "month-over-month growth per type (lag on the monthly rollup)",
)


def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user growth curve: daily first-seen counts and the cumulative
    user total. Exact cumulative DISTINCT is not window-expressible, but
    first-seen reduces it exactly: min(ts) per user (one aggregate),
    then a day rollup and a running sum over the day-sized table."""
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
    )


ORACLE_USER_GROWTH = """
WITH first_seen AS (
  SELECT user_id, date_trunc('day', min(ts)) AS day
  FROM events GROUP BY user_id
),
daily AS (SELECT day, count(*) AS n_new FROM first_seen GROUP BY day)
SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
       cast(sum(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS BIGINT) AS cum_users
FROM daily
"""


QUERIES["evt_user_growth"] = QuerySpec(
    q_user_growth,
    ORACLE_USER_GROWTH,
    "new-user growth curve (first-seen reduction, day-table running sum)",
)


def _half_up_mean(c: Column, w: WindowSpec | None = None) -> Column:
    """Mean of the non-negative integer column c (over window w, if
    given) rounded half-up in integer arithmetic, (2*s + n) div (2*n):
    exact whatever order the engine sums in."""
    s, n = F.sum(c), F.count(c)
    if w is not None:
        s, n = s.over(w), n.over(w)
    return F.call_function("div", 2 * s + n, 2 * n)


def _hourly_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(h, hv): the hourly mean of events.value in integer micro-units.
    value is quantised to 1e-6 first (exact for its 2 dp), so the mean
    is one half-up division of an integer sum by a count."""
    vm = F.round(F.col("value") * 1e6).cast("bigint")
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(_half_up_mean(vm).alias("hv"))
    )


HOURLY_MICRO_SQL = """hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST((2 * sum(vm) + count(vm)) // (2 * count(vm)) AS BIGINT) AS hv
  FROM (SELECT ts, CAST(round(value * 1e6) AS BIGINT) AS vm FROM events)
  GROUP BY 1
)"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the hourly value series: the
    hour-of-day seasonal component (hod mean − grand mean) plus the
    per-hod residual magnitude after the seasonal fit — the corpus-health
    profile behind "is this metric's daily shape stable?".

    Scale shape: ONE hash aggregate reduces the fact table to the hourly
    rollup (bounded by the time span, not the event count); the grand
    mean / hod mean windows and the final aggregate all run on that
    bounded rollup. Every mean (hv, mu, hm, avg_abs_resid) is kept in
    integer micro-units as one half-up division of an integer sum by a
    count, so both engines get the same answer whatever the summation
    order; rounding a double mean to 6 dp could not, because an exact
    tie (hod 5's mean is 49.2487435 at sf0.01) lands on either side of
    the boundary depending on the order of the sum. Output columns are
    divided by 1e6 only at the end."""
    hourly = _hourly_micro(spark, sf_dir)
    w_all = Window.partitionBy()
    w_hod = Window.partitionBy(F.hour("h"))
    t = hourly.select(
        F.hour("h").alias("hod"),
        "hv",
        _half_up_mean(F.col("hv"), w_all).alias("mu"),
        _half_up_mean(F.col("hv"), w_hod).alias("hm"),
    )
    return t.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n_hours"),
        ((F.first("hm") - F.first("mu")) / 1e6).alias("seasonal"),
        (_half_up_mean(F.abs(F.col("hv") - F.col("hm"))) / 1e6).alias(
            "avg_abs_resid"
        ),
    )


ORACLE_SEASONAL = f"""
WITH {HOURLY_MICRO_SQL},
t AS (
  SELECT CAST(extract(hour FROM h) AS INT) AS hod, hv,
         (2 * sum(hv) OVER () + count(hv) OVER ())
           // (2 * count(hv) OVER ()) AS mu,
         (2 * sum(hv) OVER w + count(hv) OVER w) // (2 * count(hv) OVER w) AS hm
  FROM hourly
  WINDOW w AS (PARTITION BY extract(hour FROM h))
)
SELECT hod, count(*) AS n_hours,
       (max(hm) - max(mu)) / 1e6 AS seasonal,
       ((2 * sum(abs(hv - hm)) + count(*)) // (2 * count(*))) / 1e6
         AS avg_abs_resid
FROM t GROUP BY hod
"""


def q_session_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation/session assembly — the events-to-training-documents
    op of an LLM data pipeline: sessionize the event stream (30-min gap,
    operators/timeseries.py::sessionize), then render each session as
    one training line (the '>'-joined event-type trajectory) with its
    size stats, ready for tokenize-and-pack downstream.

    Scale shape: one user-partitioned window (the sessionize) + one
    grouped aggregate; the in-group ordering comes from array_sort over
    collect_list structs — per-session state, never a global sort. Ties
    are (ts, event_id)-total-ordered identically in the oracle."""
    from ..operators.timeseries import sessionize
    from .scale_ops import SESSION_GAP_S, TS_FMT

    ev = read_table(spark, sf_dir, "events")
    s = sessionize(
        ev, key="user_id", ts="ts", tiebreak="event_id",
        gap_seconds=SESSION_GAP_S,
    )
    per = s.groupBy("user_id", "session_num").agg(
        F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("trajectory"),
    )
    return per.select(
        "user_id",
        "session_num",
        "session_start",
        "n_events",
        "trajectory",
        F.length("trajectory").alias("n_chars"),
    )


def _oracle_session_corpus() -> str:
    from .scale_ops import SESSION_GAP_S

    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN cast(floor(epoch(ts)) AS bigint)
                   - lag(cast(floor(epoch(ts)) AS bigint)) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_id, event_type,
         cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
              AS int) AS session_num
  FROM flagged
)
SELECT user_id, session_num,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS trajectory,
       cast(length(string_agg(event_type, '>' ORDER BY ts, event_id))
            AS bigint) AS n_chars
FROM numbered
GROUP BY user_id, session_num
"""


QUERIES["evt_seasonal_decompose"] = QuerySpec(
    q_seasonal_decompose,
    ORACLE_SEASONAL,
    "additive hour-of-day seasonal decomposition on the bounded rollup",
)
QUERIES["evt_session_corpus"] = QuerySpec(
    q_session_corpus,
    _oracle_session_corpus(),
    "session-to-training-document assembly (trajectory render per session)",
)


KM_CENSOR_DAYS = 7  # users seen within this many days of corpus end are censored


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days between first
    and last activity). Users still active within KM_CENSOR_DAYS of the
    corpus end are right-CENSORED (they leave the risk set without an
    event) — the estimator's whole point vs a naive lifetime histogram.

    Scale shape: one per-user min/max reduction (user-sized), one scalar
    broadcast (corpus end), then every KM quantity — risk set, deaths,
    hazard, survival — comes from windows over the DISTINCT-lifetime
    table (bounded by the day span, not users). The survival product is
    exp(Σ ln(1−d/n)) with the hazard ratio rounded to 6 dp first, so
    both engines exponentiate identical sums; survival rounds to 4 dp."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    end = per_user.agg(F.max("last_day").alias("corpus_end"))
    lives = per_user.crossJoin(F.broadcast(end)).select(
        F.datediff("last_day", "first_day").cast("int").alias("t"),
        (
            F.datediff("corpus_end", "last_day") >= KM_CENSOR_DAYS
        ).cast("int").alias("died"),
    )
    per_t = lives.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_t"),
        F.sum("died").alias("d_t"),
    )
    w_ord = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    curve = per_t.select(
        "t",
        "d_t",
        (
            F.sum("n_t").over(w_all) - F.sum("n_t").over(w_ord) + F.col("n_t")
        ).alias("n_at_risk"),
    ).withColumn(
        "hazard", F.round(F.col("d_t") / F.col("n_at_risk"), 6)
    )
    w_surv = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "t",
        "n_at_risk",
        "d_t",
        "hazard",
        # greatest(…, 1e-12) on BOTH engines: a terminal bucket with
        # hazard = 1 would otherwise give Spark log(0) = NULL but DuckDB
        # ln(0) = -inf (survival 0.0) — the clamp makes both engines
        # produce survival 0.0 identically.
        F.round(
            F.exp(
                F.sum(
                    F.log(F.greatest(1 - F.col("hazard"), F.lit(1e-12)))
                ).over(w_surv)
            ),
            4,
        ).alias("survival"),
    )


ORACLE_SURVIVAL_KM = f"""
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
per_user AS (
  SELECT user_id, min(day) AS first_day, max(day) AS last_day
  FROM ev GROUP BY 1
),
endd AS (SELECT max(last_day) AS corpus_end FROM per_user),
lives AS (
  SELECT CAST(date_diff('day', first_day, last_day) AS INT) AS t,
         CASE WHEN date_diff('day', last_day, corpus_end)
                   >= {KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS died
  FROM per_user, endd
),
per_t AS (
  SELECT t, count(*) AS n_t, cast(sum(died) AS BIGINT) AS d_t
  FROM lives GROUP BY t
),
curve AS (
  SELECT t, d_t,
         sum(n_t) OVER () - sum(n_t) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + n_t
           AS n_at_risk
  FROM per_t
),
hz AS (SELECT t, n_at_risk, d_t,
              round(d_t * 1.0 / n_at_risk, 6) AS hazard FROM curve)
SELECT t, cast(n_at_risk AS BIGINT) AS n_at_risk, d_t, hazard,
       round(exp(sum(ln(greatest(1 - hazard, 1e-12))) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
         AS survival
FROM hz
"""


QUERIES["evt_survival_km"] = QuerySpec(
    q_survival_km,
    ORACLE_SURVIVAL_KM,
    "Kaplan-Meier survival with right-censoring (windows on distinct lifetimes)",
)


FORECAST_H = 24  # forecast horizon: hours past the end of the series


def q_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend forecast WITH a 95 % prediction interval —
    trend + uncertainty in one pass, the honest version of
    evt_trend_slopes: OLS on the hourly count series, forecast at
    (last hour + 24), PI from the regression standard error
    s·sqrt(1 + 1/n + (x₀−x̄)²/Sxx) with the normal 1.96 critical value.

    Scale shape: the fact table reduces to the per-(type, hour) rollup
    once; every regression sufficient statistic (regr_slope/intercept/
    count/avg/Sxx and the residual SSE via regr_r2·Syy) is one
    partial-aggregable pass over that bounded rollup. Intermediates
    round to 6 dp so both engines do identical arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    # x = hours since epoch (integer, exact on both engines)
    xy = hourly.select(
        "event_type",
        (F.unix_timestamp("h") / 3600).cast("double").alias("x"),
        "y",
    )
    g = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_sxx("y", "x"), 6).alias("sxx"),
        F.round(F.regr_syy("y", "x"), 6).alias("syy"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        F.round(F.avg("x"), 6).alias("xbar"),
        F.max("x").alias("xmax"),
    )
    x0 = F.col("xmax") + FORECAST_H
    sse = F.col("syy") * (1 - F.col("r2"))
    s2 = sse / (F.col("n") - 2)
    pi_half = 1.96 * F.sqrt(
        s2 * (1 + 1 / F.col("n") + (x0 - F.col("xbar")) ** 2 / F.col("sxx"))
    )
    yhat = F.col("intercept") + F.col("slope") * x0
    return g.select(
        "event_type",
        "n",
        "slope",
        "r2",
        F.round(yhat, 4).alias("forecast"),
        F.round(yhat - pi_half, 4).alias("pi_lo"),
        F.round(yhat + pi_half, 4).alias("pi_hi"),
    )


ORACLE_FORECAST_LINEAR = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
xy AS (
  SELECT event_type, CAST(floor(epoch(h)) / 3600 AS DOUBLE) AS x, y
  FROM hourly
),
g AS (
  SELECT event_type, count(*) AS n,
         round(regr_slope(y, x), 6) AS slope,
         round(regr_intercept(y, x), 6) AS intercept,
         round(regr_sxx(y, x), 6) AS sxx,
         round(regr_syy(y, x), 6) AS syy,
         round(regr_r2(y, x), 6) AS r2,
         round(avg(x), 6) AS xbar,
         max(x) AS xmax
  FROM xy GROUP BY 1
)
SELECT event_type, n, slope, r2,
       round(intercept + slope * (xmax + {FORECAST_H}), 4) AS forecast,
       round(intercept + slope * (xmax + {FORECAST_H})
             - 1.96 * sqrt((syy * (1 - r2)) / (n - 2)
               * (1 + 1.0 / n
                  + (xmax + {FORECAST_H} - xbar) ^ 2 / sxx)), 4) AS pi_lo,
       round(intercept + slope * (xmax + {FORECAST_H})
             + 1.96 * sqrt((syy * (1 - r2)) / (n - 2)
               * (1 + 1.0 / n
                  + (xmax + {FORECAST_H} - xbar) ^ 2 / sxx)), 4) AS pi_hi
FROM g
"""


QUERIES["evt_forecast_linear"] = QuerySpec(
    q_forecast_linear,
    ORACLE_FORECAST_LINEAR,
    "linear forecast + 95% prediction interval from regression partials",
)


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend per event type: the Theil-Sen estimator (median of
    all pairwise slopes) over the hourly count series — outlier-immune
    where OLS (evt_forecast_linear) is not; the pair the two queries
    make is the standard robust-vs-efficient trend dashboard.

    Scale shape: Theil-Sen is O(m²) in SERIES LENGTH, which is why it
    runs on the hourly ROLLUP — m is bounded by the time span, so the
    per-type pair fan-out (m²/2 tiny rows of two doubles) is constant in
    corpus size; the only fact-table pass is the rollup aggregate.
    Slopes round to 6 dp before the median (both engines interpolate
    identically on identical doubles)."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    xy = hourly.select(
        "event_type",
        (F.unix_timestamp("h") / 3600).cast("double").alias("x"),
        "y",
    )
    a, b = xy.alias("a"), xy.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.round(
            (F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x")), 6
        ).alias("s"),
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.percentile("s", F.lit(0.5)), 6).alias("theil_sen_slope"),
    )


ORACLE_THEIL_SEN = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
xy AS (
  SELECT event_type, CAST(floor(epoch(h)) / 3600 AS DOUBLE) AS x, y
  FROM hourly
),
slopes AS (
  SELECT a.event_type, round((b.y - a.y) / (b.x - a.x), 6) AS s
  FROM xy a JOIN xy b ON a.event_type = b.event_type AND a.x < b.x
)
SELECT event_type, count(*) AS n_pairs,
       round(quantile_cont(s, 0.5), 6) AS theil_sen_slope
FROM slopes GROUP BY event_type
"""


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection — the operational layer on
    top of q_seasonal_decompose: an hour is anomalous when its value
    deviates from its hour-of-day mean by more than 3 robust sigmas
    (1.4826·MAD of the deseasonalized residuals). Plain z-score flags
    every rush hour; deseasonalizing first is what makes the alert
    meaningful.

    Scale shape: one fact-table rollup to (hour, avg); residual, MAD,
    and flags all on that bounded series. MAD via two percentile
    aggregates (median, then median |resid − median|). hv, the hod mean
    and r are integer micro-units (see q_seasonal_decompose), so each
    median is an exact half-integer that both engines round alike."""
    hourly = _hourly_micro(spark, sf_dir)
    w_hod = Window.partitionBy(F.hour("h"))
    resid = hourly.select(
        "h",
        "hv",
        (F.col("hv") - _half_up_mean(F.col("hv"), w_hod)).alias("r"),
    )
    stats = resid.agg(F.round(F.percentile("r", F.lit(0.5))).alias("med"))
    mad = (
        resid.crossJoin(F.broadcast(stats))
        .agg(
            F.round(
                F.percentile(F.abs(F.col("r") - F.col("med")), F.lit(0.5))
            ).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    flagged = resid.crossJoin(F.broadcast(mad)).filter(
        F.abs(F.col("r") - F.col("med"))
        > 3 * 1.4826 * F.col("mad")
    )
    return flagged.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        (F.col("hv") / 1e6).alias("hv"),
        (F.col("r") / 1e6).alias("r"),
        F.round(
            (F.col("r") - F.col("med")) / (1.4826 * F.col("mad")), 4
        ).alias("robust_z"),
    )


ORACLE_SEASONAL_ANOMALIES = f"""
WITH {HOURLY_MICRO_SQL},
resid AS (
  SELECT h, hv,
         hv - (2 * sum(hv) OVER w + count(hv) OVER w)
                // (2 * count(hv) OVER w) AS r
  FROM hourly
  WINDOW w AS (PARTITION BY extract(hour FROM h))
),
med AS (SELECT round(quantile_cont(r, 0.5)) AS med FROM resid),
mad AS (
  SELECT round(quantile_cont(abs(r - med), 0.5)) AS mad, max(med) AS med
  FROM resid, med
)
SELECT strftime(resid.h, '%Y-%m-%d %H:%M:%S') AS hour,
       resid.hv / 1e6 AS hv, resid.r / 1e6 AS r,
       round((resid.r - mad.med) / (1.4826 * mad.mad), 4) AS robust_z
FROM resid, mad
WHERE abs(resid.r - mad.med) > 3 * 1.4826 * mad.mad
"""


QUERIES["evt_theil_sen"] = QuerySpec(
    q_theil_sen,
    ORACLE_THEIL_SEN,
    "Theil-Sen robust trend (pairwise slopes on the bounded rollup)",
)
QUERIES["evt_seasonal_anomalies"] = QuerySpec(
    q_seasonal_anomalies,
    ORACLE_SEASONAL_ANOMALIES,
    "deseasonalized robust-z anomaly hours (MAD on the bounded series)",
)


XCORR_MAX_LAG = 6


def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag detection between the 'view' and 'purchase' hourly count
    series: Pearson correlation of (view[t], purchase[t+lag]) for lags
    0..6 h — the does-browsing-predict-buying diagnostic behind
    attribution windows and cache warmup decisions.

    Scale shape: the fact table reduces once to per-(type, hour) counts;
    the lag alignment is a self-join of the HOURLY table shifted by a
    literal interval (bounded by time span), and each lag's correlation
    is one corr() aggregate. Rounds to 6 dp both engines."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    views = hourly.filter(F.col("event_type") == "view").select(
        F.col("h").alias("vh"), F.col("c").alias("vc")
    )
    buys = hourly.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("bh"), F.col("c").alias("bc")
    )
    out = None
    for lag in range(XCORR_MAX_LAG + 1):
        aligned = views.join(
            buys,
            F.col("bh") == F.col("vh") + F.expr(f"INTERVAL {lag} HOURS"),
        ).agg(
            F.lit(lag).alias("lag_hours"),
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.corr("vc", "bc"), 6).alias("corr"),
        )
        out = aligned if out is None else out.unionByName(aligned)
    return out


def _oracle_cross_correlation() -> str:
    parts = []
    for lag in range(XCORR_MAX_LAG + 1):
        parts.append(f"""
SELECT {lag} AS lag_hours, count(*) AS n_hours,
       round(corr(v.c, b.c), 6) AS corr
FROM hourly v JOIN hourly b
  ON v.event_type = 'view' AND b.event_type = 'purchase'
 AND b.h = v.h + INTERVAL {lag} HOURS""")
    u = "\nUNION ALL\n".join(parts)
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS DOUBLE) AS c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)
{u}
"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al., WSDM
    2013 — "Improving the Sensitivity of Online Controlled
    Experiments"): per-user post-period metric Y adjusted by the
    pre-period covariate X via θ = cov(X,Y)/var(X); report raw and
    adjusted per-variant means and the variance-reduction ratio
    (1 − (1−ρ²)) achieved. Pre/post split at the timeline midpoint;
    variant = user_id parity (the engine's deterministic assignment
    convention, evt_ab_test).

    Scale shape: one per-user two-column aggregate (user-sized), θ and
    the global X mean from one covar/var aggregate over that rollup,
    broadcast back as literals-via-crossJoin; every pass is
    partial-aggregable. Intermediates round to 6 dp."""
    ev = read_table(spark, sf_dir, "events")
    # floor() on BOTH engines: Spark's cast('long') truncates toward zero
    # while DuckDB's CAST(... AS BIGINT) rounds half away from zero, so an
    # odd min+max would split one second apart cross-engine without it.
    bounds = ev.agg(
        F.floor(
            (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts")))
            / 2
        )
        .cast("long")
        .alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.unix_timestamp("ts") < F.col("mid"), F.col("value")
                    ).otherwise(0.0)
                ),
                6,
            ).alias("x"),
            F.round(
                F.sum(
                    F.when(
                        F.unix_timestamp("ts") >= F.col("mid"), F.col("value")
                    ).otherwise(0.0)
                ),
                6,
            ).alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    stats = per_user.agg(
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 6).alias("theta"),
        F.round(F.avg("x"), 6).alias("xbar"),
        F.round(F.corr("x", "y") ** 2, 6).alias("r2"),
    )
    return (
        per_user.crossJoin(F.broadcast(stats))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("y"), 6).alias("raw_mean"),
            F.round(
                F.avg(
                    F.col("y")
                    - F.col("theta") * (F.col("x") - F.col("xbar"))
                ),
                6,
            ).alias("cuped_mean"),
            F.round(F.first("r2"), 6).alias("var_reduction"),
        )
    )


ORACLE_CUPED = """
WITH bounds AS (
  SELECT CAST(floor((min(floor(epoch(ts))) + max(floor(epoch(ts)))) / 2)
              AS BIGINT) AS mid
  FROM events
),
per_user AS (
  SELECT user_id,
         round(sum(CASE WHEN floor(epoch(ts)) < mid THEN value
                        ELSE 0.0 END), 6) AS x,
         round(sum(CASE WHEN floor(epoch(ts)) >= mid THEN value
                        ELSE 0.0 END), 6) AS y,
         CAST(user_id % 2 AS INT) AS variant
  FROM events, bounds
  GROUP BY user_id
),
stats AS (
  SELECT round(covar_pop(x, y) / var_pop(x), 6) AS theta,
         round(avg(x), 6) AS xbar,
         round(corr(x, y) ^ 2, 6) AS r2
  FROM per_user
)
SELECT variant, count(*) AS n_users,
       round(avg(y), 6) AS raw_mean,
       round(avg(y - theta * (x - xbar)), 6) AS cuped_mean,
       round(max(r2), 6) AS var_reduction
FROM per_user, stats
GROUP BY variant
"""


QUERIES["evt_cross_correlation"] = QuerySpec(
    q_cross_correlation,
    _oracle_cross_correlation(),
    "lead-lag cross-correlation of view->purchase hourly series",
)
QUERIES["evt_cuped"] = QuerySpec(
    q_cuped,
    ORACLE_CUPED,
    "CUPED variance-reduced A/B readout (theta from one covar aggregate)",
)
