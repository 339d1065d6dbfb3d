"""Feature-engineering operators (round 5): the column-preparation
primitives a training pipeline runs between the warehouse and the
trainer — per-group normalization and time-decayed engagement
scoring. Both are single-pass, integer/decimal-exact where the
cross-engine gate needs determinism, and windowed/grouped on the keys
they would shuffle on at 100 TB.

Reference parity: the reference (serverless template,
``src/handlers.py:20-88``) has no feature math; these generalize the
BASELINE.json training-data north star the same way the dedup /
similarity families do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8x8_spark.registry import register
from etl_8x8_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# per-group feature scaling: z-score + min-max + percent_rank
# ---------------------------------------------------------------------------

_SCALE_ORACLE = """
WITH stats AS (
  SELECT c_mktsegment AS segment,
         COUNT(*) AS n,
         CAST(SUM(CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1e2 AS s1,
         CAST(SUM(CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)
                  * CAST(floor(c_acctbal * 1e2 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1e4 AS s2,
         MIN(c_acctbal) AS lo,
         MAX(c_acctbal) AS hi
  FROM customer GROUP BY 1
),
scaled AS (
  SELECT c.c_custkey AS custkey, s.segment,
         c.c_acctbal AS acctbal,
         (c.c_acctbal - s.s1 / s.n)
           / sqrt(greatest(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n), 1e-12))
           AS z,
         CASE WHEN s.hi > s.lo
              THEN (c.c_acctbal - s.lo) / (s.hi - s.lo) ELSE 0.5 END AS mm,
         percent_rank() OVER (PARTITION BY c.c_mktsegment
                              ORDER BY c.c_acctbal, c.c_custkey) AS pr
  FROM customer c JOIN stats s ON s.segment = c.c_mktsegment
)
SELECT custkey, segment, acctbal,
       CAST(floor(z * 1e6 + 0.5) AS BIGINT) / 1e6 AS z_score,
       CAST(floor(mm * 1e6 + 0.5) AS BIGINT) / 1e6 AS minmax,
       CAST(floor(pr * 1e6 + 0.5) AS BIGINT) / 1e6 AS pct_rank
FROM scaled
ORDER BY custkey
"""


@register("ml_feature_scaling", oracle=_SCALE_ORACLE)
def ml_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment feature normalization: z-score, min-max, and
    percent-rank of account balance, each within the customer's
    market segment — the three standard scalings a feature pipeline
    applies before training, computed for every row in ONE pass.

    Plan: segment moments come from a |segments|-row aggregate of
    exact integer-cent component sums (broadcast back), so
    mean/variance are identical doubles in both engines; percent_rank is one window
    on the same segment key the join shuffles on (exchange reuse).
    All three outputs floor-quantized to 6 dp (tie-stable). At 100 TB
    this is a scan + one broadcast join + one window — no per-feature
    rescans.
    """
    cust = load_table(spark, sf_dir, "customer")
    # moments from exact 1e2-unit integers (BIGINT-safe: |cents| <= 1e6,
    # squares <= 1e12) — DECIMAL x DECIMAL would hit precision-overflow
    # scale clamping that Spark and DuckDB resolve differently
    cents = F.floor(F.col("c_acctbal") * 1e2 + 0.5).cast("long")
    stats = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n"),
        (F.sum(cents).cast("double") / 1e2).alias("s1"),
        (F.sum(cents * cents).cast("double") / 1e4).alias("s2"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )
    joined = cust.join(
        F.broadcast(stats), cust.c_mktsegment == stats.segment
    )
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(1e-12))
    z = (F.col("c_acctbal") - mean) / F.sqrt(var)
    mm = F.when(
        F.col("hi") > F.col("lo"),
        (F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo")),
    ).otherwise(0.5)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    pr = F.percent_rank().over(w)
    q6 = lambda c: F.floor(c * 1e6 + 0.5).cast("long") / F.lit(1e6)  # noqa: E731
    return (
        joined.select(
            F.col("c_custkey").alias("custkey"),
            "segment",
            F.col("c_acctbal").alias("acctbal"),
            q6(z).alias("z_score"),
            q6(mm).alias("minmax"),
            q6(pr).alias("pct_rank"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# time-decayed engagement score (exact power-of-two half-life decay)
# ---------------------------------------------------------------------------

# Half-life 7 days, bucketed: weight = 2^-(age_days // 7), capped at 30
# halvings. Powers of two make the decay EXACT integer arithmetic —
# engine-portable with no pow() ulp drift — computed as
# value_cents · 2^(CAP - k) summed in DECIMAL, then scaled once.
_DECAY_CAP = 30
_US_PER_DAY = 86_400_000_000

_DECAY_ORACLE = f"""
WITH ref AS (
  SELECT MAX(epoch_us(ts)) AS ref_us FROM events
),
w AS (
  SELECT e.user_id,
         CAST(floor(e.value * 1e2 + 0.5) AS BIGINT) AS cents,
         LEAST(CAST({_DECAY_CAP} AS BIGINT),
               ((r.ref_us - epoch_us(e.ts)) // {_US_PER_DAY}) // 7) AS k
  FROM events e CROSS JOIN ref r
  WHERE e.event_type IN ('purchase', 'click')
),
agg AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))
                  * CAST(CAST(1 AS BIGINT) << CAST({_DECAY_CAP} - k AS INT)
                         AS DECIMAL(38,0))) AS DOUBLE) AS wsum
  FROM w GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(floor(wsum / {(1 << _DECAY_CAP) * 100.0} * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS decay_score
FROM agg
ORDER BY user_id
"""


@register("agg_decay_sum", oracle=_DECAY_ORACLE)
def agg_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score per user: recent purchase/click
    value counts fully, older activity halves every 7 days — the
    recency-weighted feature behind churn models and ranking signals.

    Exactness: the decay is bucketed to power-of-two weights
    (2^-(age_days//7)), so the weighted sum is integer cents times an
    integer power — accumulated in DECIMAL(38,0) with NO float pow()
    (whose last-ulp differs across engines) — and converted to a
    double exactly once. The reference timestamp is a 1-row broadcast
    max. One scan, one groupBy on user_id: scan-shaped at any scale.
    """
    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.max(F.unix_micros("ts")).alias("ref_us"))
    w = (
        events.filter(F.col("event_type").isin("purchase", "click"))
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.floor(F.col("value") * 1e2 + 0.5).cast("long").alias("cents"),
            F.least(
                F.lit(_DECAY_CAP).cast("long"),
                F.floor(
                    F.floor(
                        (F.col("ref_us") - F.unix_micros("ts")) / _US_PER_DAY
                    )
                    / 7
                ).cast("long"),
            ).alias("k"),
        )
    )
    # pyspark's shiftleft() helper takes only a literal bit count; the
    # SQL function accepts a column expression
    weight = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_DECAY_CAP} - k AS INT))")
    agg = w.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("cents").cast("decimal(38,0)") * weight.cast("decimal(38,0)"))
        .cast("double")
        .alias("wsum"),
    )
    return agg.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        (
            F.floor(F.col("wsum") / ((1 << _DECAY_CAP) * 100.0) * 1e6 + 0.5)
            .cast("long")
            / F.lit(1e6)
        ).alias("decay_score"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# VWAP — volume-weighted average price, running per month
# ---------------------------------------------------------------------------

_VWAP_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', l_shipdate) AS DATE) AS STRING)
             AS day_str,
         strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
         SUM(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT)
             * CAST(floor(l_quantity + 0.5) AS BIGINT)) AS pv_u,
         SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS vol
  FROM lineitem GROUP BY 1, 2
),
run AS (
  SELECT day_str, month, vol,
         SUM(pv_u) OVER w AS run_pv,
         SUM(vol) OVER w AS run_vol
  FROM daily
  WINDOW w AS (PARTITION BY month ORDER BY day_str
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day_str, month, CAST(vol AS BIGINT) AS day_volume,
       CAST(run_vol AS BIGINT) AS cum_volume,
       CAST(floor(CAST(run_pv AS DOUBLE) / 1e2 / run_vol * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS vwap
FROM run
ORDER BY day_str
"""


@register("window_vwap", oracle=_VWAP_ORACLE)
def window_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running volume-weighted average price per calendar month (reset
    at month boundaries): cumulative Σ(price·qty)/Σ(qty) over the
    daily grid — the execution-quality benchmark of trading systems
    and the weighted-running-ratio template (cost-per-unit, blended
    CPM) everywhere else.

    Exactness: price quantized to 1e2 units and quantity to integers
    BEFORE the window, so both running sums are exact integers in both
    engines (DECIMAL-summed; a day's pv fits but a year's needs the
    wide type) and the ratio is formed once per row from identical
    integers, floor-quantized on output. Plan: one daily rollup
    (map-side partial), one window partitioned by month — the same
    key the rollup shuffled on.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pv = F.floor(F.col("l_extendedprice") * 1e2 + 0.5).cast("long") * F.floor(
        F.col("l_quantity") + 0.5
    ).cast("long")
    vol = F.floor(F.col("l_quantity") + 0.5).cast("long")
    daily = li.groupBy(
        F.date_trunc("day", "l_shipdate").cast("date").cast("string").alias("day_str"),
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
    ).agg(
        # decimal(38,0), not BIGINT: a month's cumulative Σ(cents·qty)
        # reaches ~2e18 at the 100 TB scale point — one skewed month
        # from int64 wrap (silent in non-ANSI Spark). DuckDB's BIGINT
        # SUM already promotes to HUGEINT, so the wide type also keeps
        # the two engines' arithmetic identical.
        F.sum(pv.cast("decimal(38,0)")).alias("pv_u"),
        F.sum(vol).alias("vol"),
    )
    w = (
        Window.partitionBy("month")
        .orderBy("day_str")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "day_str",
        "month",
        F.col("vol").cast("long").alias("day_volume"),
        F.sum("vol").over(w).cast("long").alias("cum_volume"),
        (
            F.floor(
                F.sum("pv_u").over(w).cast("double")
                / 1e2
                / F.sum("vol").over(w)
                * 1e6
                + 0.5
            ).cast("long")
            / F.lit(1e6)
        ).alias("vwap"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# cohort LTV — cumulative revenue per signup cohort x month-age
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH first_order AS (
  SELECT o_custkey,
         MIN(date_trunc('month', o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey
),
rev AS (
  SELECT f.cohort_month,
         (CAST(date_part('year', o.o_orderdate) AS BIGINT)
          - date_part('year', f.cohort_month)) * 12
         + (CAST(date_part('month', o.o_orderdate) AS BIGINT)
            - date_part('month', f.cohort_month)) AS month_age,
         SUM(CAST(floor(o.o_totalprice * 1e2 + 0.5) AS BIGINT)) AS rev_u,
         COUNT(DISTINCT o.o_custkey) AS active_customers
  FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
),
sized AS (
  SELECT cohort_month, COUNT(*) AS cohort_size FROM first_order GROUP BY 1
)
SELECT strftime(r.cohort_month, '%Y-%m') AS cohort,
       CAST(r.month_age AS BIGINT) AS month_age,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(r.active_customers AS BIGINT) AS active_customers,
       CAST(floor(CAST(SUM(r.rev_u) OVER (
           PARTITION BY r.cohort_month ORDER BY r.month_age
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS DOUBLE) / 1e2 / s.cohort_size * 1e6 + 0.5) AS BIGINT) / 1e6
         AS cum_ltv_per_customer
FROM rev r JOIN sized s ON s.cohort_month = r.cohort_month
WHERE r.month_age <= 24
ORDER BY cohort, month_age
"""


@register("agg_cohort_ltv", oracle=_LTV_ORACLE)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order month;
    for each cohort x month-age cell, active customers and CUMULATIVE
    revenue per cohort member — the curve every growth/retention
    dashboard draws next to `agg_retention_cohorts`' activity view.

    Plan: first-order month is one groupBy on custkey; the fact joins
    it on the same key (exchange reuse), rolls up to cohort x age
    (map-side partial), and one running-sum window per cohort
    finishes. Revenue is 1e2-unit integer-exact; the per-customer
    normalization divides once by the broadcast cohort size.
    """
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort_month")
    )
    sized = first.groupBy("cohort_month").agg(F.count("*").alias("cohort_size"))
    age = (F.year("o_orderdate") - F.year("cohort_month")) * 12 + (
        F.month("o_orderdate") - F.month("cohort_month")
    )
    rev = (
        orders.join(first, "o_custkey")
        .groupBy("cohort_month", age.cast("long").alias("month_age"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 1e2 + 0.5).cast("long")
            ).alias("rev_u"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(sized), "cohort_month")
        .filter(F.col("month_age") <= 24)
        .select(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
            F.col("month_age").cast("long").alias("month_age"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.col("active_customers").cast("long").alias("active_customers"),
            (
                F.floor(
                    F.sum("rev_u").over(w).cast("double")
                    / 1e2
                    / F.col("cohort_size")
                    * 1e6
                    + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort", "month_age")
    )


# ---------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quintiles
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH ref AS (
  SELECT MAX(epoch_us(o_orderdate)) AS ref_us FROM orders
),
per_cust AS (
  SELECT o.o_custkey AS custkey,
         MIN((r.ref_us - epoch_us(o.o_orderdate)) // 86400000000)
           AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(floor(o.o_totalprice * 1e2 + 0.5) AS BIGINT)) AS monetary_u
  FROM orders o CROSS JOIN ref r
  GROUP BY 1
),
scored AS (
  SELECT custkey,
         CAST(recency_days AS BIGINT) AS recency_days,
         CAST(frequency AS BIGINT) AS frequency,
         CAST(monetary_u AS DOUBLE) / 1e2 AS monetary,
         6 - ntile(5) OVER (ORDER BY recency_days, custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary_u, custkey) AS m_score
  FROM per_cust
)
SELECT custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell
FROM scored
ORDER BY custkey
"""


@register("agg_rfm_segments", oracle=_RFM_ORACLE)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-5 on Recency (low
    days since last order = 5), Frequency, and Monetary quintiles,
    plus the combined 555-style cell — the classic marketing
    segmentation every CRM ships.

    Plan: one groupBy collapses the fact to |customers| rows; all
    three quintile scores derive from ONE
    ``histogram_global_rank_multi`` pass (functions/ranks.py): the
    (metric, value) explode folds the three orderings into a single
    stats broadcast + bucket histogram + partitioned probe window,
    and exact closed-form ntile(5) comes from each (rank, n) — so
    the naive form's three single-task global ntile windows are gone,
    parallelism no longer collapses to 1 as customer cardinality
    grows with SF, and the round-7 chained form's three serialized
    broadcast rounds (4.98 s at sf0.1) collapse to one (~1.5 s).
    Ties break on custkey so quintile boundaries are deterministic in
    both engines; monetary is integer-cent exact.
    """
    from ..functions.ranks import (
        histogram_global_rank_multi,
        ntile_from_rank,
    )
    orders = load_table(spark, sf_dir, "orders")
    # One scan + one exchange: collapse to per-customer (last order,
    # count, cents) first; the global reference date is then a 1-row
    # agg over the COLLAPSED relation (ReuseExchange dedupes the
    # groupBy shuffle), not a second raw-orders scan. min over orders
    # of floor((ref-o)/day) == floor((ref - max o)/day) since floor is
    # monotone non-increasing in o — same recency_days, one less
    # fact-sized job on the serial broadcast critical path.
    per_cust0 = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "last_us"
        ),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 1e2 + 0.5).cast("long")).alias(
            "monetary_u"
        ),
    )
    ref = per_cust0.agg(F.max("last_us").alias("ref_us"))
    per_cust = per_cust0.crossJoin(F.broadcast(ref)).select(
        "custkey",
        F.floor((F.col("ref_us") - F.col("last_us")) / 86_400_000_000)
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_u",
    )
    scored = histogram_global_rank_multi(
        per_cust,
        [
            ("recency_days", "_ri", False),
            ("frequency", "_fi", False),
            ("monetary_u", "_mi", False),
        ],
        ["custkey"],
        total_col="_n",
    )
    # r15 (guide §4.4): the three quintile scores as SQL strings in
    # ONE projection — the chained withColumn/ntile loop was ~0.6 s of
    # py4j plan-construction per build.
    return scored.selectExpr(
        "custkey",
        "recency_days",
        "frequency",
        "CAST(monetary_u AS DOUBLE) / 100.0D AS monetary",
        f"(6 - {ntile_from_rank('_ri', '_n', 5)}) AS r_score",
        f"{ntile_from_rank('_fi', '_n', 5)} AS f_score",
        f"{ntile_from_rank('_mi', '_n', 5)} AS m_score",
    ).selectExpr(
        "*",
        "CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell",
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# ABC (Pareto) classification — cumulative-revenue-share classes
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         SUM(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS rev_u
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT custkey, rev_u,
         SUM(rev_u) OVER (ORDER BY rev_u DESC, custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_u,
         SUM(rev_u) OVER () AS tot_u
  FROM per_cust
)
SELECT custkey,
       CAST(rev_u AS DOUBLE) / 1e2 AS revenue,
       CAST(floor(CAST(cum_u AS DOUBLE) / tot_u * 1e6 + 0.5) AS BIGINT) / 1e6
         AS cum_share,
       CASE WHEN CAST(cum_u AS DOUBLE) / tot_u <= 0.8 THEN 'A'
            WHEN CAST(cum_u AS DOUBLE) / tot_u <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
ORDER BY custkey
"""


@register("agg_abc_classification", oracle=_ABC_ORACLE)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: customers ranked by revenue,
    classified A (first 80% of cumulative revenue), B (to 95%), C
    (tail) — the 80/20 analysis behind inventory and account
    prioritization, and the classifying twin of `agg_lorenz_curve`.

    Plan: fact collapses to |customers| integer-cent rows; the
    descending running revenue sum is the DISTRIBUTED histogram-prune
    cumulative sum (functions/ranks.py — per-bucket sum offsets + a
    bucket-partitioned running sum), so no single task ever sorts the
    customer relation; the total joins in as a 1-row broadcast. The
    class is a threshold CASE on an exact integer ratio (identical
    doubles both engines).
    """
    from ..functions.ranks import histogram_global_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 1e2 + 0.5).cast("long")).alias("rev_u")
    )
    tot = per_cust.agg(F.sum("rev_u").alias("tot_u"))
    ranked = (
        histogram_global_rank(
            per_cust,
            "rev_u",
            ["custkey"],
            descending=True,
            cumsum="rev_u",
            cumsum_col="cum_u",
        )
        .crossJoin(F.broadcast(tot))
        .select("custkey", "rev_u", "cum_u", "tot_u")
    )
    share = F.col("cum_u").cast("double") / F.col("tot_u")
    return ranked.select(
        "custkey",
        (F.col("rev_u").cast("double") / 1e2).alias("revenue"),
        (F.floor(share * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# conversion latency — first click -> first purchase, bucketed
# ---------------------------------------------------------------------------

_CONV_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
  FROM events GROUP BY user_id
),
lat AS (
  SELECT user_id, (p_us - c_us) // 60000000 AS latency_min
  FROM firsts WHERE c_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= c_us
)
SELECT CAST(CASE WHEN latency_min < 60 THEN 0
            WHEN latency_min < 1440 THEN 1
            ELSE 2 END AS INT) AS bucket,
       CASE WHEN latency_min < 60 THEN '<1h'
            WHEN latency_min < 1440 THEN '1h-1d' ELSE '>1d' END AS label,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MIN(latency_min) AS BIGINT) AS min_minutes,
       CAST(MAX(latency_min) AS BIGINT) AS max_minutes
FROM lat
GROUP BY 1, 2
ORDER BY bucket
"""


@register("agg_conversion_latency", oracle=_CONV_ORACLE)
def agg_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, minutes from FIRST
    click to FIRST purchase (users converting before any click are
    excluded), bucketed <1h / 1h-1d / >1d — the activation-latency
    histogram growth teams watch alongside the funnel.

    Plan: ONE conditional-min groupBy per user (no click⋈purchase
    self-join — the fact is scanned once), then a |users|-row bucket
    rollup. Latency is exact integer micros -> minutes.
    """
    events = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", ts_us)).alias("c_us"),
        F.min(F.when(F.col("event_type") == "purchase", ts_us)).alias("p_us"),
    )
    lat = firsts.filter(
        F.col("c_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("c_us"))
    ).select(
        "user_id",
        F.floor((F.col("p_us") - F.col("c_us")) / 60_000_000).alias("latency_min"),
    )
    bucket = (
        F.when(F.col("latency_min") < 60, 0)
        .when(F.col("latency_min") < 1440, 1)
        .otherwise(2)
    )
    label = (
        F.when(F.col("latency_min") < 60, "<1h")
        .when(F.col("latency_min") < 1440, "1h-1d")
        .otherwise(">1d")
    )
    return (
        lat.groupBy(bucket.cast("int").alias("bucket"), label.alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.min("latency_min").cast("long").alias("min_minutes"),
            F.max("latency_min").cast("long").alias("max_minutes"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# fulfillment latency — order date -> ship date, per priority
# ---------------------------------------------------------------------------

_FULFILL_ORACLE = """
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000
           AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(MIN(days) AS BIGINT) AS min_days,
       CAST(MAX(days) AS BIGINT) AS max_days,
       CAST(floor(CAST(SUM(days) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS avg_days,
       CAST(median(days) AS DOUBLE) AS median_days
FROM lat
GROUP BY priority
ORDER BY priority
"""


@register("agg_fulfillment_latency", oracle=_FULFILL_ORACLE)
def agg_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per order priority: min/max/mean/median
    days between order date and each lineitem's ship date — the SLA
    report every fulfillment dashboard leads with (does URGENT
    actually ship faster?).

    Plan: fact-fact equi-join on the order key (both sides shuffle on
    it), latencies as exact integer days. The exact median comes from
    a HISTOGRAM, not a value buffer: days are bounded integers, so
    (priority, days) counts + a cumulative window locate the middle
    element(s) exactly — scan-shaped at any group size, where
    Spark's exact `percentile` buffers every value per group
    (measured 3.2x at a 10x scale-up before this; 1.6x after).
    DuckDB's median averages the two middles on even counts —
    reproduced exactly by the k1/k2 formula.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    days = F.floor(
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        )
        / 86_400_000_000
    )
    lat = j.filter(F.col("l_shipdate") >= F.col("o_orderdate")).select(
        F.col("o_orderpriority").alias("priority"), days.alias("days")
    )
    hist = lat.groupBy("priority", "days").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("priority")
    hist = hist.select(
        "priority",
        "days",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    k1 = F.floor((F.col("n") + 1) / 2)
    k2 = F.floor(F.col("n") / 2) + 1
    return (
        hist.groupBy("priority")
        .agg(
            F.max("n").cast("long").alias("n_lineitems"),
            F.min("days").cast("long").alias("min_days"),
            F.max("days").cast("long").alias("max_days"),
            (
                F.floor(
                    F.sum(F.col("days") * F.col("cnt")).cast("double")
                    / F.max("n")
                    * 1e6
                    + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("avg_days"),
            (
                (
                    F.min(F.when(F.col("cum") >= k1, F.col("days")))
                    + F.min(F.when(F.col("cum") >= k2, F.col("days")))
                ).cast("double")
                / 2
            ).alias("median_days"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# new vs returning users per day
# ---------------------------------------------------------------------------

_NVR_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(CAST(date_trunc('day', e.ts) AS DATE) AS STRING) AS day_str,
         e.user_id,
         CAST(date_trunc('day', e.ts) AS DATE) = f.first_day AS is_new
  FROM events e JOIN firsts f ON f.user_id = e.user_id
  GROUP BY 1, 2, 3
)
SELECT day_str,
       CAST(COUNT(CASE WHEN is_new THEN 1 END) AS BIGINT) AS new_users,
       CAST(COUNT(CASE WHEN NOT is_new THEN 1 END) AS BIGINT)
         AS returning_users
FROM daily
GROUP BY day_str
ORDER BY day_str
"""


@register("agg_new_vs_returning", oracle=_NVR_ORACLE)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split: a user is NEW on their
    first-ever active day and RETURNING on every later active day —
    the first chart on every growth dashboard.

    Plan: first-seen day is one groupBy on user_id; the fact joins it
    back on the SAME key (exchange reuse), collapses to distinct
    (day, user) actives, and rolls up per day. No window needed.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    firsts = events.groupBy("user_id").agg(F.min(day).alias("first_day"))
    daily = (
        events.join(firsts, "user_id")
        .select(
            day.cast("string").alias("day_str"),
            "user_id",
            (day == F.col("first_day")).alias("is_new"),
        )
        .distinct()
    )
    return (
        daily.groupBy("day_str")
        .agg(
            F.count(F.when(F.col("is_new"), 1)).cast("long").alias("new_users"),
            F.count(F.when(~F.col("is_new"), 1))
            .cast("long")
            .alias("returning_users"),
        )
        .orderBy("day_str")
    )


# ---------------------------------------------------------------------------
# longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH active AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events GROUP BY 1, 2
),
grp AS (
  SELECT user_id, day,
         CAST(day - CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY day) AS INT) AS DATE) AS anchor
  FROM active
),
streaks AS (
  SELECT user_id, anchor, COUNT(*) AS len
  FROM grp GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak_days,
       CAST(SUM(len) AS BIGINT) AS active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM streaks
GROUP BY user_id
ORDER BY user_id
"""


@register("window_streak_detection", oracle=_STREAK_ORACLE)
def window_streak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus total
    active days and streak count) — the gaps-and-islands pattern
    keyed to the retention/gamification question every engagement
    team asks.

    Plan: distinct (user, day) actives, then the classic island
    anchor (day minus row_number is constant within a run of
    consecutive days), one groupBy per island, one per user — all
    shuffles on user_id, so the rank window and both aggregates
    reuse one exchange.
    """
    events = load_table(spark, sf_dir, "events")
    active = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = active.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("long").alias("longest_streak_days"),
            F.sum("len").cast("long").alias("active_days"),
            F.count("*").cast("long").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness per calendar month
# ---------------------------------------------------------------------------

_STICKY_ORACLE = """
WITH active AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         user_id
  FROM events GROUP BY 1, 2, 3
),
dau AS (
  SELECT month, day, COUNT(*) AS dau FROM active GROUP BY 1, 2
),
mau AS (
  SELECT month, COUNT(DISTINCT user_id) AS mau FROM active GROUP BY 1
)
SELECT d.month,
       CAST(SUM(d.dau) AS BIGINT) AS active_user_days,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(m.mau AS BIGINT) AS mau,
       CAST(floor(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / m.mau * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS stickiness
FROM dau d JOIN mau m ON m.month = d.month
GROUP BY d.month, m.mau
ORDER BY d.month
"""


@register("agg_stickiness_dau_mau", oracle=_STICKY_ORACLE)
def agg_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month: average daily active
    users over monthly active users — the habit-formation ratio
    (1.0 = every monthly user active every day).

    Plan: ONE distinct pass to (month, day, user) actives feeds both
    the per-day counts and the per-month distinct users; the final
    join is |months|-row. Ratio floor-quantized from exact integers.

    This is the EXACT half of an exact/approx pair: the per-month
    COUNT(DISTINCT) carries a distinct-expansion shuffle that grows
    with event volume, so at 100 TB run the HLL twin
    ``agg_stickiness_dau_mau_approx`` (fixed-size mergeable sketches)
    and keep this one as the audit query.
    """
    events = load_table(spark, sf_dir, "events")
    active = events.select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
    ).distinct()
    dau = active.groupBy("month", "day").agg(F.count("*").alias("dau"))
    mau = active.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(F.broadcast(mau), "month")
        .groupBy("month", "mau")
        .agg(
            F.sum("dau").cast("long").alias("active_user_days"),
            F.count("*").cast("long").alias("n_days"),
        )
        .select(
            "month",
            "active_user_days",
            "n_days",
            F.col("mau").cast("long").alias("mau"),
            (
                F.floor(
                    F.col("active_user_days").cast("double")
                    / F.col("n_days")
                    / F.col("mau")
                    * 1e6
                    + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


_STICKY_HLL_ORACLE = """
WITH active AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         user_id
  FROM events GROUP BY 1, 2, 3
),
dau AS (
  SELECT month, day, COUNT(*) AS dau FROM active GROUP BY 1, 2
),
mau AS (
  SELECT month, COUNT(DISTINCT user_id) AS mau FROM active GROUP BY 1
)
SELECT d.month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(m.mau AS BIGINT) AS mau,
       CAST(1 AS INTEGER) AS dau_within_rsd,
       CAST(1 AS INTEGER) AS mau_within_rsd
FROM dau d JOIN mau m ON m.month = d.month
GROUP BY d.month, m.mau
ORDER BY d.month
"""


@register("agg_stickiness_dau_mau_approx", oracle=_STICKY_HLL_ORACLE)
def agg_stickiness_dau_mau_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HLL twin of ``agg_stickiness_dau_mau`` — the 100 TB form.

    The exact key's per-month MAU is a COUNT(DISTINCT): a distinct
    expansion whose shuffle grows with event volume (its 10x ratio was
    the borderline 2.4x of the r6 sweep). Here both DAU and MAU are
    HyperLogLog++ sketches (``approx_count_distinct``, rsd 0.5%):
    fixed ~KB state per group, map-side mergeable, no distinct
    expansion — the plan that survives 100 TB and incremental daily
    refresh (sketches merge across days/reruns).

    Cross-engine contract (same idiom as ``agg_approx_distinct``,
    whose docstring explains it): raw HLL estimates are engine-
    specific, so the HASHED columns are the exact counts plus
    within-tolerance flags the oracle predicts as 1 — the sketches
    are still built and checked on every run. ``dau_within_rsd`` is
    the AND over all days of the month. The exact counts reuse the
    SAME single (month, day, user) distinct pass as the exact key
    (sketching over a distinct input changes no estimate), so the
    verification adds one sketch per group — NOT a second distinct
    expansion over raw events (the first cut of this twin aggregated
    countDistinct+HLL over raw events twice: 4x the data moved, 11 s
    at sf0.1 vs the exact key's ~2 s).
    """
    events = load_table(spark, sf_dir, "events")
    active = events.select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
    ).distinct()
    # Tolerance margin: lgConfigK=14 gives ~0.8% rsd, and
    # dau_within_rsd is the AND over every day of a month — 30+
    # checks, so each needs real headroom or one ~2.5-sigma daily
    # excursion deterministically flips the month's flag to 0 and
    # fails the hash oracle (which hardcodes 1). 3% ~= 3.75 sigma per
    # day => P(any of 31 days out) ~ 1e-5, vs ~2.5 sigma at the old
    # 2% where a month-level flip was a when-not-if at larger SF.
    tol = lambda exact: F.greatest(F.lit(3.0), exact * 0.03)  # noqa: E731
    # DataSketches HLL, NOT approx_count_distinct: the sketch is built
    # ONCE per (month, day) and the monthly estimate is hll_union_agg
    # over the <=31 daily sketches — the mergeability this key exists
    # to demonstrate (daily refresh unions yesterday's sketch instead
    # of rescanning the month; the same union runs across executors,
    # days, and reruns). lgConfigK=14 -> 16 KB sketches, ~0.8% rsd,
    # comfortably inside the 3% tolerance flags. (First cut used
    # approx_count_distinct at rsd 0.5%: ~43k-register buffers per
    # partial group made sketch STATE the cost — 8.3 s warm at sf0.1
    # vs the exact key's 1.1 s; sketch-and-merge reads active once.)
    daily = active.groupBy("month", "day").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.count("*").alias("dau"),
    )
    monthly_est = daily.groupBy("month").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("mau_est")
    )
    monthly = active.groupBy("month").agg(
        F.countDistinct("user_id").alias("mau"),
    ).join(monthly_est, "month")
    daily = daily.withColumn(
        "dau_est", F.hll_sketch_estimate("sk")
    ).drop("sk")
    return (
        daily.withColumn(
            "dau_ok",
            (F.abs(F.col("dau_est") - F.col("dau")) <= tol(F.col("dau")))
            .cast("int"),
        )
        .groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.min("dau_ok").alias("dau_within_rsd"),
        )
        .join(F.broadcast(monthly), "month")
        .select(
            "month",
            "n_days",
            F.col("mau").cast("long").alias("mau"),
            F.col("dau_within_rsd").cast("int").alias("dau_within_rsd"),
            (F.abs(F.col("mau_est") - F.col("mau")) <= tol(F.col("mau")))
            .cast("int")
            .alias("mau_within_rsd"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# declarative data-quality expectation suite
# ---------------------------------------------------------------------------

_EXPECT_ORACLE = """
WITH checks AS (
  SELECT
    COUNT(*) AS n_rows,
    COUNT(*) - COUNT(o_orderkey) AS null_orderkey,
    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS dup_orderkey,
    COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS nonpositive_price,
    COUNT(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
      AS bad_status,
    COUNT(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                 OR o_orderdate > TIMESTAMP '2030-01-01' THEN 1 END)
      AS date_out_of_range,
    COUNT(CASE WHEN o_orderpriority NOT LIKE '_-%' THEN 1 END)
      AS bad_priority_format
  FROM orders
)
SELECT rule, n_violations, n_rows,
       CAST(n_violations = 0 AS BOOLEAN) AS passed
FROM (
  SELECT 'orderkey_not_null' AS rule, CAST(null_orderkey AS BIGINT)
           AS n_violations, CAST(n_rows AS BIGINT) AS n_rows FROM checks
  UNION ALL SELECT 'orderkey_unique', CAST(dup_orderkey AS BIGINT),
           CAST(n_rows AS BIGINT) FROM checks
  UNION ALL SELECT 'price_positive', CAST(nonpositive_price AS BIGINT),
           CAST(n_rows AS BIGINT) FROM checks
  UNION ALL SELECT 'status_in_enum', CAST(bad_status AS BIGINT),
           CAST(n_rows AS BIGINT) FROM checks
  UNION ALL SELECT 'date_in_range', CAST(date_out_of_range AS BIGINT),
           CAST(n_rows AS BIGINT) FROM checks
  UNION ALL SELECT 'priority_format', CAST(bad_priority_format AS BIGINT),
           CAST(n_rows AS BIGINT) FROM checks
)
ORDER BY rule
"""


@register("quality_expectations", oracle=_EXPECT_ORACLE)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over the orders table: not-null,
    uniqueness, positive-range, enum-membership, date-window, and
    format rules evaluated in ONE pass, reported one row per rule
    with violation counts — the data-contract gate (the
    Great-Expectations/dbt-test primitive) a pipeline runs before
    promoting a 100 TB drop, and the generalization of the
    reference's per-request schema boundary
    (``swagger_api_models.yml:6-32``, R14) to set-level contracts.

    Plan: all rules are sibling conditional-count aggregates in a
    single scan (the uniqueness rule adds the one count-distinct
    expansion); the rule table is unpivoted from the 1-row result, so
    adding a rule never adds a scan. At 100 TB: one pass, map-side
    partials, |rules| output rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    checks = orders.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_orderkey")).alias("orderkey_not_null"),
        # duplicates among NON-NULL keys (nulls are the not_null
        # rule's violation, not a uniqueness one)
        (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias(
            "orderkey_unique"
        ),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("price_positive"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("status_in_enum"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp_ntz"))
                | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp_ntz")),
                1,
            )
        ).alias("date_in_range"),
        F.count(
            F.when(~F.col("o_orderpriority").rlike(r"^.-"), 1)
        ).alias("priority_format"),
    )
    rules = [
        "orderkey_not_null",
        "orderkey_unique",
        "price_positive",
        "status_in_enum",
        "date_in_range",
        "priority_format",
    ]
    per_rule = [
        F.struct(
            F.lit(r).alias("rule"),
            F.col(r).cast("long").alias("n_violations"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        for r in rules
    ]
    return (
        checks.select(F.explode(F.array(*per_rule)).alias("s"))
        .select(
            "s.rule",
            "s.n_violations",
            "s.n_rows",
            (F.col("s.n_violations") == 0).alias("passed"),
        )
        .orderBy("rule")
    )


# --------------------------------------------------------------------------
# decision stump: best single-split learner by variance reduction (r11)
# --------------------------------------------------------------------------

_STUMP_ORACLE = """
WITH lvl AS (
  SELECT l_quantity AS q,
         COUNT(*) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS sy,
         SUM(CAST(l_extendedprice AS DECIMAL(30,6))
             * CAST(l_extendedprice AS DECIMAL(30,6))) AS syy
  FROM lineitem
  GROUP BY l_quantity
),
cum AS (
  SELECT q, n, sy, syy,
         SUM(n) OVER w AS nl,
         SUM(sy) OVER w AS sl,
         SUM(syy) OVER w AS ssl,
         SUM(n) OVER () AS nt,
         SUM(sy) OVER () AS st,
         SUM(syy) OVER () AS sst
  FROM lvl
  WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT q, nl,
         CAST(floor((
           1.0 - (
             (CAST(ssl AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl)
             + ((CAST(sst AS DOUBLE) - CAST(ssl AS DOUBLE))
                - (CAST(st AS DOUBLE) - CAST(sl AS DOUBLE))
                  * (CAST(st AS DOUBLE) - CAST(sl AS DOUBLE)) / (nt - nl))
           ) / (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
         ) * 1e6 + 0.5) AS BIGINT) / 1e6 AS reduction_ratio
  FROM cum WHERE nl < nt
)
SELECT CAST(row_number() OVER (ORDER BY reduction_ratio DESC, q) AS BIGINT)
         AS rank,
       q AS threshold,
       CAST(nl AS BIGINT) AS n_left,
       reduction_ratio
FROM scored
ORDER BY rank
"""


@register("ml_decision_stump", oracle=_STUMP_ORACLE)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump learner: score every candidate split threshold
    on l_quantity by the fraction of the target's (l_extendedprice)
    total sum-of-squared-error the split removes — reduction_ratio =
    1 − (SSE_left + SSE_right)/SSE_total, the single-feature regression
    tree of depth 1 and the inner loop of tree/GBM training. The split
    is x <= t; every distinct feature level (bar the last) is scored
    and ranked.

    Exactness: per-level n / Σy / Σy² fold as DECIMAL power sums (one
    map-side partial aggregate — the agg_linear_regression idiom), so
    the candidate table is exact however the scan is partitioned;
    cumulative left-side stats come from a running window over the
    ~50-row LEVEL relation, never the fact; the ratio is scale-free
    (magnitudes cancel), so the 6-dp floor-quantization never
    overflows the BIGINT window at any SF. Rank breaks quantized ties
    on the threshold — fully deterministic.

    Scale: the fact is touched once (scan + partial agg to |levels|
    rows); everything after runs on the level table, whose size is the
    feature's cardinality, not the data's. The single-partition window
    is bounded by |levels| by construction.
    """
    from pyspark.sql import Window as W

    from etl_8x8_spark.functions.parity import DEC

    li = load_table(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice").cast(DEC)
    lvl = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.count("*").alias("n"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
    )
    w = W.orderBy("q").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("q").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = lvl.select(
        "q",
        F.sum("n").over(w).alias("nl"),
        F.sum("sy").over(w).alias("sl"),
        F.sum("syy").over(w).alias("ssl"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("sy").over(wall).alias("st"),
        F.sum("syy").over(wall).alias("sst"),
    ).filter(F.col("nl") < F.col("nt"))
    nl = F.col("nl").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    nt = F.col("nt").cast("double")
    sl, st = F.col("sl").cast("double"), F.col("st").cast("double")
    ssl, sst = F.col("ssl").cast("double"), F.col("sst").cast("double")
    sse_l = ssl - sl * sl / nl
    sse_r = (sst - ssl) - (st - sl) * (st - sl) / nr
    sse_t = sst - st * st / nt
    scored = cum.select(
        "q",
        F.col("nl").cast("long").alias("n_left"),
        (
            F.floor((F.lit(1.0) - (sse_l + sse_r) / sse_t) * 1e6 + 0.5)
            .cast("long")
            / F.lit(1e6)
        ).alias("reduction_ratio"),
    )
    wr = W.orderBy(F.desc("reduction_ratio"), F.asc("q"))
    return scored.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        F.col("q").alias("threshold"),
        "n_left",
        "reduction_ratio",
    ).orderBy("rank")


# --------------------------------------------------------------------------
# IQR-fence outlier report (r11)
# --------------------------------------------------------------------------

_IQR_ORACLE = """
WITH fences AS (
  SELECT event_type,
         CAST(floor(quantile_cont("value", 0.25) * 1e6 + 0.5) AS BIGINT)
           AS q1u,
         CAST(floor(quantile_cont("value", 0.75) * 1e6 + 0.5) AS BIGINT)
           AS q3u
  FROM events GROUP BY event_type
),
f2 AS (
  SELECT event_type, q1u, q3u,
         q1u - (3 * (q3u - q1u)) // 2 AS lou,
         q3u + (3 * (q3u - q1u)) // 2 AS hiu
  FROM fences
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(f.q1u AS BIGINT) / 1e6 AS q1,
       CAST(f.q3u AS BIGINT) / 1e6 AS q3,
       CAST(f.lou AS BIGINT) / 1e6 AS lo_fence,
       CAST(f.hiu AS BIGINT) / 1e6 AS hi_fence,
       CAST(SUM(CASE WHEN CAST(floor(e."value" * 1e6 + 0.5) AS BIGINT)
                          < f.lou THEN 1 ELSE 0 END) AS BIGINT)
         AS n_out_low,
       CAST(SUM(CASE WHEN CAST(floor(e."value" * 1e6 + 0.5) AS BIGINT)
                          > f.hiu THEN 1 ELSE 0 END) AS BIGINT)
         AS n_out_high
FROM events e JOIN f2 f USING (event_type)
GROUP BY e.event_type, f.q1u, f.q3u, f.lou, f.hiu
ORDER BY e.event_type
"""


@register("quality_anomaly_iqr", oracle=_IQR_ORACLE)
def quality_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier report per event type: exact quartiles,
    fences at Q1 − 1.5·IQR / Q3 + 1.5·IQR, and the count of values
    outside each fence — the distribution-free anomaly screen a data
    quality suite runs before z-scores (which assume normality) are
    trusted.

    Determinism: quartiles are exact interpolated percentiles (the
    agg_percentile_exact parity — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the formula), floor-quantized to BIGINT
    micro-units; fences derive from those integers with floor division
    (identical in both engines), and each value joins the comparison
    as its own micro-unit integer — so fence placement and every
    in/out decision is integer-exact, no float boundary flakes.

    Scale: two passes over events — one percentile aggregate (per-type
    sorted groups; the sketch twin is agg_quantile_sketch when groups
    outgrow memory) and one broadcast-join + count pass (the fence
    table is |event types| rows). Both shuffle only on event_type.
    """
    events = load_table(spark, sf_dir, "events")
    fences = events.groupBy("event_type").agg(
        F.floor(F.percentile("value", F.lit(0.25)) * 1e6 + 0.5)
        .cast("long")
        .alias("q1u"),
        F.floor(F.percentile("value", F.lit(0.75)) * 1e6 + 0.5)
        .cast("long")
        .alias("q3u"),
    )
    f2 = fences.select(
        "event_type",
        "q1u",
        "q3u",
        (F.col("q1u") - F.expr("div(3 * (q3u - q1u), 2)")).alias("lou"),
        (F.col("q3u") + F.expr("div(3 * (q3u - q1u), 2)")).alias("hiu"),
    )
    vu = F.floor(F.col("value") * 1e6 + 0.5).cast("long")
    return (
        events.join(F.broadcast(f2), "event_type")
        .groupBy("event_type", "q1u", "q3u", "lou", "hiu")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(vu < F.col("lou"), 1).otherwise(0))
            .cast("long")
            .alias("n_out_low"),
            F.sum(F.when(vu > F.col("hiu"), 1).otherwise(0))
            .cast("long")
            .alias("n_out_high"),
        )
        .select(
            "event_type",
            "n",
            (F.col("q1u") / F.lit(1e6)).alias("q1"),
            (F.col("q3u") / F.lit(1e6)).alias("q3"),
            (F.col("lou") / F.lit(1e6)).alias("lo_fence"),
            (F.col("hiu") / F.lit(1e6)).alias("hi_fence"),
            "n_out_low",
            "n_out_high",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# data-freshness SLA report (r11 wave 3)
# --------------------------------------------------------------------------

_FRESH_SLA_HOURS = 24

_FRESH_ORACLE = f"""
WITH per AS (
  SELECT event_type,
         COUNT(*) AS n,
         MAX(epoch_us(ts)) AS max_us
  FROM events GROUP BY event_type
),
g AS (SELECT MAX(max_us) AS global_us FROM per)
SELECT p.event_type,
       CAST(p.n AS BIGINT) AS n,
       CAST(p.max_us AS BIGINT) AS max_ts_us,
       CAST((g.global_us - p.max_us) // 3600000000 AS BIGINT) AS lag_hours,
       (g.global_us - p.max_us) // 3600000000 >= {_FRESH_SLA_HOURS}
         AS stale
FROM per p CROSS JOIN g
ORDER BY p.event_type
"""


@register("quality_freshness", oracle=_FRESH_ORACLE)
def quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA report: per feed (event type), the newest
    event's timestamp, its lag in whole hours behind the newest event
    anywhere, and a stale flag at the {_FRESH_SLA_HOURS} h SLA — the
    first page of every pipeline-health dashboard (a feed whose
    max(ts) stops advancing is a dead producer long before volume
    alarms fire).

    Determinism: all arithmetic on integer epoch-microseconds with
    floor division (identical in both engines) — no timestamp-local
    rendering, no float hours. One scan to the per-feed aggregate; the
    global max is a 1-row cross join, so the report costs one
    map-side-combined pass at any scale.
    """
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
    )
    g = per.agg(F.max("max_ts_us").alias("global_us"))
    lag = F.expr(f"div(global_us - max_ts_us, {3600 * 1_000_000})")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n",
            "max_ts_us",
            lag.cast("long").alias("lag_hours"),
            (lag >= _FRESH_SLA_HOURS).alias("stale"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# gradient-boosting rounds over decision stumps (r11 wave 4)
# --------------------------------------------------------------------------

_GBM_STAGE_SQL = """
cum{r} AS (
  SELECT q, n, sy, syy,
         SUM(n) OVER w AS nl, SUM(sy) OVER w AS sl, SUM(syy) OVER w AS ssl,
         SUM(n) OVER () AS nt, SUM(sy) OVER () AS st, SUM(syy) OVER () AS sst
  FROM lvl{r}
  WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored{r} AS (
  SELECT q, nl, nt, sl, st,
         CAST(floor((
           1.0 - (
             (CAST(ssl AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl)
             + ((CAST(sst AS DOUBLE) - CAST(ssl AS DOUBLE))
                - (CAST(st AS DOUBLE) - CAST(sl AS DOUBLE))
                  * (CAST(st AS DOUBLE) - CAST(sl AS DOUBLE)) / (nt - nl))
           ) / (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
         ) * 1e6 + 0.5) AS BIGINT) / 1e6 AS reduction_ratio
  FROM cum{r} WHERE nl < nt
),
best{r} AS (
  SELECT q AS t, reduction_ratio,
         CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS pl,
         CAST(floor((CAST(st AS DOUBLE) - CAST(sl AS DOUBLE)) / (nt - nl) + 0.5)
              AS BIGINT) AS pr
  FROM scored{r} ORDER BY reduction_ratio DESC, q LIMIT 1
)"""

_GBM_ORACLE = (
    """
WITH lvl1 AS (
  SELECT l_quantity AS q,
         COUNT(*) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS sy,
         SUM(CAST(l_extendedprice AS DECIMAL(30,6))
             * CAST(l_extendedprice AS DECIMAL(30,6))) AS syy
  FROM lineitem GROUP BY l_quantity
),"""
    + _GBM_STAGE_SQL.format(r=1)
    + """,
lvl2 AS (
  SELECT l.q, l.n,
         l.sy - CAST(l.n * (CASE WHEN l.q <= b.t THEN b.pl ELSE b.pr END)
                     AS DECIMAL(30,6)) AS sy,
         l.syy
           - 2 * (CASE WHEN l.q <= b.t THEN b.pl ELSE b.pr END) * l.sy
           + CAST(l.n * (CASE WHEN l.q <= b.t THEN b.pl ELSE b.pr END)
                      * (CASE WHEN l.q <= b.t THEN b.pl ELSE b.pr END)
                  AS DECIMAL(38,6)) AS syy
  FROM lvl1 l CROSS JOIN best1 b
),"""
    + _GBM_STAGE_SQL.format(r=2)
    + """
SELECT CAST(1 AS BIGINT) AS round, t AS threshold,
       pl AS pred_left, pr AS pred_right, reduction_ratio
FROM best1
UNION ALL
SELECT CAST(2 AS BIGINT), t, pl, pr, reduction_ratio FROM best2
ORDER BY round
"""
)


@register("ml_gbm_boost_rounds", oracle=_GBM_ORACLE)
def ml_gbm_boost_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO GRADIENT-BOOSTING ROUNDS over depth-1 trees: fit
    ml_decision_stump's best split, subtract its (integer-dollar
    quantized) leaf predictions, fit a second stump ON THE RESIDUALS —
    the inner loop of every GBDT trainer, here with the boosting
    recursion made exact: because a stump's prediction is constant per
    feature LEVEL, the residual level-statistics derive in CLOSED FORM
    from the round-1 level stats (sy' = sy − n·p,
    syy' = syy − 2p·sy + n·p²) — the fact is scanned ONCE for both
    rounds, and with integer predictions every adjusted statistic is
    an exact DECIMAL (products only, no decimal division anywhere), so
    both rounds' split choices are bit-deterministic cross-engine.

    Output: one row per round — threshold, leaf predictions, and the
    round's SSE reduction ratio (round 2's ratio is over the RESIDUAL
    SSE, the standard boosting view).

    Scale: identical to the stump — one map-side partial aggregate to
    |levels| rows; both boosting rounds run on the level table
    (windows + a 1-row broadcast of each round's best split). A
    production K-round trainer is this recursion looped K times, still
    one fact pass per FEATURE, not per round.
    """
    from pyspark.sql import Window as W

    from etl_8x8_spark.functions.parity import DEC

    li = load_table(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice").cast(DEC)
    # persisted: the level table has THREE consumers in the final DAG
    # (round-1 split, the residual transform, and best1's output row);
    # without the barrier each consumer re-derives it — re-scanning the
    # fact — and the "one fact pass" contract silently breaks (caught
    # by tests/test_plans.py::TestR11Plans::test_gbm_single_fact_scan)
    lvl = (
        li.groupBy(F.col("l_quantity").alias("q"))
        .agg(
            F.count("*").alias("n"),
            F.sum(y).alias("sy"),
            F.sum(y * y).alias("syy"),
        )
        .persist()
    )

    def best_split(level_df):
        w = W.orderBy("q").rowsBetween(W.unboundedPreceding, W.currentRow)
        wall = W.orderBy("q").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        cum = level_df.select(
            "q",
            F.sum("n").over(w).alias("nl"),
            F.sum("sy").over(w).alias("sl"),
            F.sum("syy").over(w).alias("ssl"),
            F.sum("n").over(wall).alias("nt"),
            F.sum("sy").over(wall).alias("st"),
            F.sum("syy").over(wall).alias("sst"),
        ).filter(F.col("nl") < F.col("nt"))
        nl = F.col("nl").cast("double")
        nr = (F.col("nt") - F.col("nl")).cast("double")
        nt = F.col("nt").cast("double")
        sl, st = F.col("sl").cast("double"), F.col("st").cast("double")
        ssl, sst = F.col("ssl").cast("double"), F.col("sst").cast("double")
        red = (
            F.floor(
                (
                    F.lit(1.0)
                    - (
                        (ssl - sl * sl / nl)
                        + ((sst - ssl) - (st - sl) * (st - sl) / nr)
                    )
                    / (sst - st * st / nt)
                )
                * 1e6
                + 0.5
            ).cast("long")
            / F.lit(1e6)
        )
        scored = cum.select(
            "q",
            red.alias("reduction_ratio"),
            F.floor(sl / nl + 0.5).cast("long").alias("pl"),
            F.floor((st - sl) / nr + 0.5).cast("long").alias("pr"),
        )
        return scored.orderBy(
            F.desc("reduction_ratio"), F.asc("q")
        ).limit(1).select(
            F.col("q").alias("t"), "pl", "pr", "reduction_ratio"
        )

    best1 = best_split(lvl).persist()  # 1 row, two consumers
    pred = F.when(F.col("q") <= F.col("t"), F.col("pl")).otherwise(
        F.col("pr")
    )
    lvl2 = lvl.crossJoin(F.broadcast(best1)).select(
        "q",
        "n",
        (F.col("sy") - (F.col("n") * pred).cast("decimal(30,6)")).alias("sy"),
        (
            F.col("syy")
            - F.lit(2) * pred * F.col("sy")
            + (F.col("n") * pred * pred).cast("decimal(38,6)")
        ).alias("syy"),
    )
    best2 = best_split(lvl2)
    row = lambda rnd, b: b.select(  # noqa: E731
        F.lit(rnd).cast("long").alias("round"),
        F.col("t").alias("threshold"),
        F.col("pl").alias("pred_left"),
        F.col("pr").alias("pred_right"),
        "reduction_ratio",
    )
    return row(1, best1).unionByName(row(2, best2)).orderBy("round")


# --------------------------------------------------------------------------
# logistic regression by bounded gradient descent (r12 wave 2)
# --------------------------------------------------------------------------

# lr = 1/_LR_DIV per mean-gradient micro-unit. Chosen so three rounds
# trace a visible (non-saturating) weight trajectory on the TPC-H mix.
_LR_DIV = 1000
_LOGIT_ROUNDS = 3

_LOGIT_STAGE_SQL = """
g{r} AS (
  SELECT
    SUM(CAST(n AS DECIMAL(38,0))) AS nn,
    SUM(CAST(n AS DECIMAL(38,0)) * (s - y * 1000000)) AS g0,
    SUM(CAST(n AS DECIMAL(38,0)) * (s - y * 1000000) * q) AS gq,
    SUM(CAST(n AS DECIMAL(38,0)) * (s - y * 1000000) * d) AS gd,
    SUM(CAST(n AS DECIMAL(38,0))
        * (CASE WHEN (s > 500000) = (y = 1) THEN 1 ELSE 0 END)) AS ok
  FROM (
    SELECT l.*,
           CAST(floor(1e6 / (1 + exp(
             -CAST(w.wq * l.q + w.wd * l.d + w.b AS DOUBLE) / 1e6
           )) + 0.5) AS BIGINT) AS s
    FROM lvl l CROSS JOIN w{p} w
  )
),
w{r} AS (
  SELECT
    w.wq - CAST(floor(CAST(g.gq AS DOUBLE) / CAST(g.nn AS DOUBLE)
                      / {lrdiv} + 0.5) AS BIGINT) AS wq,
    w.wd - CAST(floor(CAST(g.gd AS DOUBLE) / CAST(g.nn AS DOUBLE)
                      / {lrdiv} + 0.5) AS BIGINT) AS wd,
    w.b - CAST(floor(CAST(g.g0 AS DOUBLE) / CAST(g.nn AS DOUBLE)
                     / {lrdiv} + 0.5) AS BIGINT) AS b,
    CAST(floor(CAST(g.ok AS DOUBLE) / CAST(g.nn AS DOUBLE) * 1e6 + 0.5)
         AS BIGINT) AS acc
  FROM g{r} g CROSS JOIN w{p} w
)"""


def _logit_oracle() -> str:
    stages = ",".join(
        _LOGIT_STAGE_SQL.format(r=r, p=r - 1, lrdiv=_LR_DIV)
        for r in range(1, _LOGIT_ROUNDS + 1)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, wq AS wq_micro,"
        f" wd AS wd_micro, b AS bias_micro, acc AS acc_micro FROM w{r}"
        for r in range(1, _LOGIT_ROUNDS + 1)
    )
    return f"""
WITH lvl AS (
  SELECT CAST(COALESCE(l_quantity, 0) AS BIGINT) AS q,
         CAST(floor(COALESCE(l_discount, 0) * 100 + 0.5) AS BIGINT) AS d,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2, 3
),
w0 AS (SELECT CAST(0 AS BIGINT) AS wq, CAST(0 AS BIGINT) AS wd,
              CAST(0 AS BIGINT) AS b),
{stages}
SELECT * FROM ({rows}) WHERE acc_micro IS NOT NULL ORDER BY round
"""


@register("ml_logistic_regression_gd", oracle=_logit_oracle())
def ml_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE full-batch gradient-descent rounds of a two-feature
    logistic regression (label: l_returnflag = 'R'; features: quantity
    and discount-cents) — the distributed-trainer inner loop expressed
    as aggregates, the way a Spark pipeline actually fits a calibrated
    keep/drop model before text_quality_classifier SCORES with it.

    Exactness contract: the fact aggregates once into a LEVEL table
    (quantity × discount-cents × label — bounded at 50 × 11 × 2 rows
    regardless of corpus size), so each GD round is arithmetic over
    ≤1100 rows, not a fact re-scan. Weights live in integer
    MICRO-units; the per-level logit w·x is exact BIGINT; the sigmoid
    is micro-quantized straight off the exp (the ln/exp precedent from
    agg_mutual_information / text_quality_classifier); gradients are
    exact DECIMAL(38,0) sums of integer terms (never through double
    until the single mean-gradient division, floor-quantized back to
    micro). Every round's weights are therefore bit-identical
    cross-engine, and round r's reported acc_micro is the training
    accuracy of the weights ENTERING the round (progress metric).

    Scale: ONE map-side partial aggregate over the fact (the stump /
    GBM idiom, features.py:1531); the level table is persisted with
    all three rounds as consumers, each round a 1-row cross-join
    broadcast — a K-round trainer is this chain looped K times with
    still exactly one fact pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    lvl = (
        li.select(
            F.coalesce(F.col("l_quantity"), F.lit(0))
            .cast("long")
            .alias("q"),
            F.floor(F.coalesce(F.col("l_discount"), F.lit(0)) * 100 + 0.5)
            .cast("long")
            .alias("d"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("q", "d", "y")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    # r15 optimization (guide §1.2/§5.4, the k-means literal-centroid
    # pattern): the weights are BOUNDED METADATA (three longs). The
    # old loop chained a lazy 1-row weight relation through all three
    # rounds (each round crossJoin-broadcasting the previous round's
    # full derivation) and unioned the three round snapshots — a
    # 929-line physical plan with 78 Exchanges and 110 broadcast
    # nodes for arithmetic on three longs. Now each round runs ONE
    # aggregate job over the persisted level table with the weights
    # inlined as integer literals, collects the 1-row exact-decimal
    # gradient, and replays the weight update on the driver with the
    # IDENTICAL IEEE-754 operations in the identical order (decimal →
    # double round-half-even casts, double divides, floor — bit-exact
    # across the JVM and CPython). The sigmoid (the one libm call)
    # stays in the JVM inside the aggregate, so per-level scores are
    # byte-identical to the old plan's.
    import math

    wq = wd = b = 0
    out_rows: list[tuple[int, int, int, int, int]] = []
    ndec = F.col("n").cast("decimal(38,0)")
    for r in range(1, _LOGIT_ROUNDS + 1):
        z = (
            F.lit(wq) * F.col("q")
            + F.lit(wd) * F.col("d")
            + F.lit(b)
        )
        s = F.floor(
            F.lit(1e6)
            / (F.lit(1.0) + F.exp(-z.cast("double") / F.lit(1e6)))
            + 0.5
        ).cast("long")
        scored = lvl.withColumn("s", s)
        resid = F.col("s") - F.col("y") * F.lit(1000000)
        g = scored.agg(
            F.sum(ndec).alias("nn"),
            F.sum(ndec * resid).alias("g0"),
            F.sum(ndec * resid * F.col("q")).alias("gq"),
            F.sum(ndec * resid * F.col("d")).alias("gd"),
            F.sum(
                ndec
                * F.when(
                    (F.col("s") > 500000) == (F.col("y") == 1), 1
                ).otherwise(0)
            ).alias("ok"),
        ).collect()[0]
        if g["nn"] is None:
            # empty level table: every round's acc is NULL and the old
            # plan's IS NOT NULL filter dropped all rows
            break
        fnn = float(g["nn"])
        step = lambda gc: math.floor(  # noqa: E731
            float(gc) / fnn / _LR_DIV + 0.5
        )
        wq -= step(g["gq"])
        wd -= step(g["gd"])
        b -= step(g["g0"])
        acc = math.floor(float(g["ok"]) / fnn * 1e6 + 0.5)
        out_rows.append((r, wq, wd, b, acc))
    return spark.createDataFrame(
        out_rows,
        "round long, wq_micro long, wd_micro long, "
        "bias_micro long, acc_micro long",
    ).orderBy("round")


# --------------------------------------------------------------------------
# PCA top component by bounded power iteration (r12 wave 2)
# --------------------------------------------------------------------------

_PCA_ROUNDS = 5

_PCA_FEATS_SQL = """
  SELECT CAST(COALESCE(l_quantity, 0) AS BIGINT) AS x1,
         CAST(floor(COALESCE(l_discount, 0) * 100 + 0.5) AS BIGINT) AS x2,
         CAST(floor(COALESCE(l_tax, 0) * 100 + 0.5) AS BIGINT) AS x3
  FROM lineitem
"""

_PCA_ITER_SQL = """
it{r} AS (
  SELECT c.*,
         CAST(v.v1 AS DOUBLE) / 1e6 AS p1,
         CAST(v.v2 AS DOUBLE) / 1e6 AS p2,
         CAST(v.v3 AS DOUBLE) / 1e6 AS p3
  FROM cov c CROSS JOIN it{p} v
),
itm{r} AS (
  SELECT *,
         (c11 * p1 + c12 * p2) + c13 * p3 AS u1,
         (c12 * p1 + c22 * p2) + c23 * p3 AS u2,
         (c13 * p1 + c23 * p2) + c33 * p3 AS u3
  FROM it{r}
),
it{r}n AS (
  SELECT CAST(floor(sg * u1 / nrm * 1e6 + 0.5) AS BIGINT) AS v1,
         CAST(floor(sg * u2 / nrm * 1e6 + 0.5) AS BIGINT) AS v2,
         CAST(floor(sg * u3 / nrm * 1e6 + 0.5) AS BIGINT) AS v3
  FROM (
    SELECT u1, u2, u3,
           NULLIF(sqrt((u1 * u1 + u2 * u2) + u3 * u3), 0) AS nrm,
           CASE WHEN u1 < 0 THEN -1.0 ELSE 1.0 END AS sg
    FROM itm{r}
  )
)"""


def _pca_oracle() -> str:
    stages = ",".join(
        _PCA_ITER_SQL.format(r=r, p=f"{r - 1}n" if r > 1 else "0")
        for r in range(1, _PCA_ROUNDS + 1)
    )
    last = f"it{_PCA_ROUNDS}n"
    return f"""
WITH f AS ({_PCA_FEATS_SQL}),
sums AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x1 AS DECIMAL(38,0))) AS s1,
         SUM(CAST(x2 AS DECIMAL(38,0))) AS s2,
         SUM(CAST(x3 AS DECIMAL(38,0))) AS s3,
         SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS s11,
         SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS s12,
         SUM(CAST(x1 AS DECIMAL(38,0)) * x3) AS s13,
         SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS s22,
         SUM(CAST(x2 AS DECIMAL(38,0)) * x3) AS s23,
         SUM(CAST(x3 AS DECIMAL(38,0)) * x3) AS s33
  FROM f
),
cov AS (
  SELECT
    CAST(s11 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS c11,
    CAST(s12 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n) AS c12,
    CAST(s13 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n) AS c13,
    CAST(s22 AS DOUBLE) / n - (CAST(s2 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n) AS c22,
    CAST(s23 AS DOUBLE) / n - (CAST(s2 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n) AS c23,
    CAST(s33 AS DOUBLE) / n - (CAST(s3 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n) AS c33
  FROM sums
),
it0 AS (SELECT CAST(1000000 AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2,
               CAST(0 AS BIGINT) AS v3),
{stages},
ray AS (
  SELECT v.v1, v.v2, v.v3,
         CAST(v.v1 AS DOUBLE) / 1e6 AS p1,
         CAST(v.v2 AS DOUBLE) / 1e6 AS p2,
         CAST(v.v3 AS DOUBLE) / 1e6 AS p3,
         c.c11, c.c12, c.c13, c.c22, c.c23, c.c33
  FROM {last} v CROSS JOIN cov c
)
SELECT v1 AS v1_micro, v2 AS v2_micro, v3 AS v3_micro,
       CAST(floor(
         ((p1 * ((c11 * p1 + c12 * p2) + c13 * p3)
           + p2 * ((c12 * p1 + c22 * p2) + c23 * p3))
          + p3 * ((c13 * p1 + c23 * p2) + c33 * p3))
         / NULLIF((p1 * p1 + p2 * p2) + p3 * p3, 0) * 1e6 + 0.5
       ) AS BIGINT) AS lambda_micro,
       CAST(floor(
         (((p1 * ((c11 * p1 + c12 * p2) + c13 * p3)
            + p2 * ((c12 * p1 + c22 * p2) + c23 * p3))
           + p3 * ((c13 * p1 + c23 * p2) + c33 * p3))
          / NULLIF((p1 * p1 + p2 * p2) + p3 * p3, 0))
         / NULLIF((c11 + c22) + c33, 0) * 1e6 + 0.5
       ) AS BIGINT) AS evr_micro
FROM ray
"""


@register("ml_pca_power_iteration", oracle=_pca_oracle())
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the (quantity, discount-cents,
    tax-cents) feature covariance by FIVE power-iteration rounds —
    the dimensionality-reduction fit step (choose the serving basis
    before embed_mrl_truncate / embed_pq_encode compress against it),
    expressed so the distributed part is ONE exact aggregate.

    Exactness contract: features are integers, so the ten power sums
    (n, Σx_i, Σx_i·x_j) are exact DECIMAL(38,0) in both engines; the
    3×3 covariance entries are each computed by the SAME fixed
    double-precision expression from those exact sums (identical IEEE
    ops → identical doubles). Power iteration then runs on the ONE
    covariance row: every round's vector is floor-quantized back to
    integer micro-units (the cross-engine sync point), matvec terms
    fold in fixed order, and a sign gate pins u1 ≥ 0 so both engines
    converge to the same eigenvector orientation. Output: the unit
    eigenvector (micro), its Rayleigh eigenvalue, and the explained-
    variance ratio λ/trace.

    Scale: the fact is scanned ONCE into a 1-row sum relation (map-side
    partial aggregate, zero shuffled bytes beyond 32 partial rows); all
    five rounds are constant-size scalar arithmetic Catalyst folds into
    a handful of projections — a D-dim PCA fit is this same shape with
    D(D+1)/2 power sums, still one fact pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        F.coalesce(F.col("l_quantity"), F.lit(0)).cast("long").alias("x1"),
        F.floor(F.coalesce(F.col("l_discount"), F.lit(0)) * 100 + 0.5)
        .cast("long")
        .alias("x2"),
        F.floor(F.coalesce(F.col("l_tax"), F.lit(0)) * 100 + 0.5)
        .cast("long")
        .alias("x3"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = f.agg(
        F.count("*").alias("n"),
        F.sum(d38("x1")).alias("s1"),
        F.sum(d38("x2")).alias("s2"),
        F.sum(d38("x3")).alias("s3"),
        F.sum(d38("x1") * F.col("x1")).alias("s11"),
        F.sum(d38("x1") * F.col("x2")).alias("s12"),
        F.sum(d38("x1") * F.col("x3")).alias("s13"),
        F.sum(d38("x2") * F.col("x2")).alias("s22"),
        F.sum(d38("x2") * F.col("x3")).alias("s23"),
        F.sum(d38("x3") * F.col("x3")).alias("s33"),
    )

    # r15 optimization (the k-means literal-centroid pattern, guide
    # §1.2 step 1): the ten power sums are BOUNDED METADATA (one row),
    # so the five projection-chained power-iteration rounds moved to
    # the driver — the old 1-row withColumns chain inlined every
    # previous round via CollapseProject into a geometrically growing
    # expression tree (~1.4 s of warm plan-build/analysis per bench
    # pass) for arithmetic on SIX doubles. The Python replay performs
    # the IDENTICAL IEEE-754 operations in the identical order
    # (+ , * , / , correctly-rounded sqrt, floor — all bit-exact
    # across the JVM and CPython), with the same per-round
    # micro-quantization sync points, so the values are unchanged;
    # the distributed part stays the one exact decimal aggregate.
    import math

    _schema = (
        "v1_micro long, v2_micro long, v3_micro long, "
        "lambda_micro long, evr_micro long"
    )
    row = sums.collect()[0]
    if not row["n"]:
        # zero-row input: SUM() is NULL and every derived value
        # null-propagates — the same single all-NULL row the old
        # in-plan chain produced
        return spark.createDataFrame([(None,) * 5], _schema)
    nf = float(row["n"])
    sv = {
        k: float(int(row[k]))
        for k in ("s1", "s2", "s3", "s11", "s12", "s13", "s22", "s23", "s33")
    }

    def cvv(sij: str, si: str, sj: str) -> float:
        return sv[sij] / nf - (sv[si] / nf) * (sv[sj] / nf)

    c11, c12, c13 = cvv("s11", "s1", "s1"), cvv("s12", "s1", "s2"), cvv("s13", "s1", "s3")
    c22, c23, c33 = cvv("s22", "s2", "s2"), cvv("s23", "s2", "s3"), cvv("s33", "s3", "s3")
    v1, v2, v3 = 1000000, 0, 0
    for _ in range(_PCA_ROUNDS):
        p1, p2, p3 = v1 / 1e6, v2 / 1e6, v3 / 1e6
        u1 = (c11 * p1 + c12 * p2) + c13 * p3
        u2 = (c12 * p1 + c22 * p2) + c23 * p3
        u3 = (c13 * p1 + c23 * p2) + c33 * p3
        nrm = math.sqrt((u1 * u1 + u2 * u2) + u3 * u3)
        if nrm == 0.0:  # NULLIF(..., 0): the degenerate null cascade
            return spark.createDataFrame([(None,) * 5], _schema)
        sg = -1.0 if u1 < 0 else 1.0
        v1 = math.floor(sg * u1 / nrm * 1e6 + 0.5)
        v2 = math.floor(sg * u2 / nrm * 1e6 + 0.5)
        v3 = math.floor(sg * u3 / nrm * 1e6 + 0.5)
    p1, p2, p3 = v1 / 1e6, v2 / 1e6, v3 / 1e6
    av1 = (c11 * p1 + c12 * p2) + c13 * p3
    av2 = (c12 * p1 + c22 * p2) + c23 * p3
    av3 = (c13 * p1 + c23 * p2) + c33 * p3
    den = (p1 * p1 + p2 * p2) + p3 * p3
    trace = (c11 + c22) + c33
    if den == 0.0 or trace == 0.0:
        lam_m = (
            None
            if den == 0.0
            else math.floor(((p1 * av1 + p2 * av2) + p3 * av3) / den * 1e6 + 0.5)
        )
        return spark.createDataFrame([(v1, v2, v3, lam_m, None)], _schema)
    lam = ((p1 * av1 + p2 * av2) + p3 * av3) / den
    return spark.createDataFrame(
        [
            (
                v1,
                v2,
                v3,
                math.floor(lam * 1e6 + 0.5),
                math.floor(lam / trace * 1e6 + 0.5),
            )
        ],
        _schema,
    )


# --------------------------------------------------------------------------
# calibration report: reliability bins + expected calibration error (r12)
# --------------------------------------------------------------------------

# the "shipped model" score: a fixed micro-unit logit over the two
# integer features — spreads predictions across ~9 of the 10 bins on
# the TPC-H mix so the reliability diagram is non-degenerate
_CAL_ZW_D = 200000
_CAL_ZW_Q = -60000
_CAL_Z0 = 1000000

_CAL_ORACLE = f"""
WITH scored AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CAST(floor(1e6 / (1 + exp(-CAST(
           {_CAL_ZW_D} * CAST(floor(COALESCE(l_discount, 0) * 100 + 0.5)
                              AS BIGINT)
           + {_CAL_ZW_Q} * CAST(COALESCE(l_quantity, 0) AS BIGINT)
           + {_CAL_Z0} AS DOUBLE) / 1e6)) + 0.5) AS BIGINT) AS p
  FROM lineitem
),
bins AS (
  SELECT LEAST(CAST(floor(p / 100000) AS BIGINT), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(p AS DECIMAL(38,0))) AS sp,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy
  FROM scored GROUP BY 1
),
rel AS (
  SELECT bin, n,
         CAST(floor(CAST(sp AS DOUBLE) / n + 0.5) AS BIGINT) AS conf_micro,
         CAST(floor(CAST(sy AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT)
           AS acc_micro
  FROM bins
)
SELECT bin, n, conf_micro, acc_micro,
       abs(conf_micro - acc_micro) AS gap_micro,
       CAST(floor(
         CAST(SUM(n * abs(conf_micro - acc_micro)) OVER () AS DOUBLE)
         / SUM(n) OVER () + 0.5
       ) AS BIGINT) AS ece_micro
FROM rel
ORDER BY bin
"""


@register("quality_calibration_bins", oracle=_CAL_ORACLE)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration report: bucket a classifier's predicted
    probability into 10 reliability bins and compare each bin's mean
    confidence against its observed accuracy, plus the overall
    expected calibration error (ECE) — the audit a pipeline runs on
    the quality classifier's scores before trusting its keep
    thresholds (a miscalibrated 0.9 means the corpus mix silently
    shifts). The score is a fixed micro-unit logistic model over
    integer features (the text_quality_classifier shipped-model
    stand-in idiom).

    Exactness: the logit is exact BIGINT; the sigmoid is
    micro-quantized off the exp; per-bin Σp and Σy are exact
    DECIMAL(38,0); each reported mean is ONE double division floored
    back to micro; the ECE folds the already-quantized per-bin gaps
    (exact integer products) through one whole-frame window sum —
    every value hash-stable cross-engine.

    Scale: one map-side partial aggregate to ≤10 bins, then a window
    over those 10 rows — corpus-scan-bound with zero meaningful
    shuffle at any size (the 32 partials × 10 bins exchange is
    constant).
    """
    li = load_table(spark, sf_dir, "lineitem")
    zq = F.coalesce(F.col("l_quantity"), F.lit(0)).cast("long")
    zd = F.floor(
        F.coalesce(F.col("l_discount"), F.lit(0)) * 100 + 0.5
    ).cast("long")
    z = (
        F.lit(_CAL_ZW_D) * zd + F.lit(_CAL_ZW_Q) * zq + F.lit(_CAL_Z0)
    )
    p = F.floor(
        F.lit(1e6) / (F.lit(1.0) + F.exp(-z.cast("double") / F.lit(1e6)))
        + 0.5
    ).cast("long")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    scored = li.select(p.alias("p"), y.alias("y"))
    bins = scored.groupBy(
        F.least(F.floor(F.col("p") / 100000), F.lit(9))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("p").cast("decimal(38,0)")).alias("sp"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
    )
    rel = bins.select(
        "bin",
        "n",
        F.floor(F.col("sp").cast("double") / F.col("n") + 0.5)
        .cast("long")
        .alias("conf_micro"),
        F.floor(F.col("sy").cast("double") / F.col("n") * 1e6 + 0.5)
        .cast("long")
        .alias("acc_micro"),
    )
    gap = F.abs(F.col("conf_micro") - F.col("acc_micro"))
    wf = Window.partitionBy()
    return rel.select(
        "bin",
        "n",
        "conf_micro",
        "acc_micro",
        gap.alias("gap_micro"),
        F.floor(
            F.sum(F.col("n") * gap).over(wf).cast("double")
            / F.sum("n").over(wf)
            + 0.5
        )
        .cast("long")
        .alias("ece_micro"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# ridge regression, closed form (normal equations + Cramer) — r12
# --------------------------------------------------------------------------

# per-row L2 penalty: lambda = n * _RIDGE_L2 keeps the regularizer's
# influence scale-invariant as the fact grows
_RIDGE_L2 = 0.01
_RIDGE_PROBE = (25, 5)  # (quantity, discount-cents) prediction probe

_RIDGE_ORACLE = f"""
WITH f AS (
  SELECT CAST(COALESCE(l_quantity, 0) AS BIGINT) AS x1,
         CAST(floor(COALESCE(l_discount, 0) * 100 + 0.5) AS BIGINT) AS x2,
         CAST(floor(COALESCE(l_extendedprice, 0) * 100 + 0.5) AS BIGINT)
           AS y
  FROM lineitem
),
s AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x1 AS DECIMAL(38,0))) AS s1,
         SUM(CAST(x2 AS DECIMAL(38,0))) AS s2,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS s11,
         SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS s12,
         SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS s22,
         SUM(CAST(x1 AS DECIMAL(38,0)) * y) AS s1y,
         SUM(CAST(x2 AS DECIMAL(38,0)) * y) AS s2y
  FROM f
),
c AS (
  SELECT n,
         CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
         CAST(sy AS DOUBLE) AS sy,
         CAST(s11 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * CAST(s1 AS DOUBLE)
           + {_RIDGE_L2} * n AS a11,
         CAST(s12 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * CAST(s2 AS DOUBLE)
           AS a12,
         CAST(s22 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n) * CAST(s2 AS DOUBLE)
           + {_RIDGE_L2} * n AS a22,
         CAST(s1y AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * CAST(sy AS DOUBLE)
           AS b1,
         CAST(s2y AS DOUBLE) - (CAST(s2 AS DOUBLE) / n) * CAST(sy AS DOUBLE)
           AS b2
  FROM s
),
w AS (
  SELECT n, s1, s2, sy,
         (b1 * a22 - b2 * a12) / NULLIF(a11 * a22 - a12 * a12, 0) AS w1,
         (a11 * b2 - a12 * b1) / NULLIF(a11 * a22 - a12 * a12, 0) AS w2
  FROM c
)
SELECT CAST(floor(w1 * 1e6 + 0.5) AS BIGINT) AS w1_micro,
       CAST(floor(w2 * 1e6 + 0.5) AS BIGINT) AS w2_micro,
       CAST(floor((sy - w1 * s1 - w2 * s2) / n * 1e6 + 0.5) AS BIGINT)
         AS intercept_micro,
       CAST(floor(
         (w1 * {_RIDGE_PROBE[0]} + w2 * {_RIDGE_PROBE[1]}
          + (sy - w1 * s1 - w2 * s2) / n) * 1e3 + 0.5
       ) AS BIGINT) AS yhat_probe_milli
FROM w
"""


@register("ml_ridge_closed_form", oracle=_RIDGE_ORACLE)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression in CLOSED FORM (centered normal equations +
    Cramer 2×2 solve, intercept unpenalized, λ = 0.01·n so the
    regularizer is scale-invariant): price-cents on (quantity,
    discount-cents). Completes the engine's trainer triptych —
    ml_logistic_regression_gd iterates, ml_pca_power_iteration
    power-iterates, this one SOLVES — because at 100 TB the cheapest
    trainer is the one whose distributed part is a single exact
    aggregate.

    Exactness: the nine power sums are exact DECIMAL(38,0) (integer
    features/targets); every downstream value is a FIXED chain of
    double ops from those sums — identical IEEE results cross-engine —
    with outputs floor-quantized (weights micro; the probe prediction
    milli, magnitude-aware per LESSONS #49). NULLIF guards the
    degenerate zero-determinant corpus.

    Scale: ONE map-side partial aggregate (32 partial rows exchange);
    the solve is literal scalar arithmetic on the 1-row sum relation.
    A D-feature ridge is the same plan with D(D+3)/2 sums and a
    driver-side or unrolled D×D solve — the aggregate stays the only
    thing that sees data.
    """
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        F.coalesce(F.col("l_quantity"), F.lit(0)).cast("long").alias("x1"),
        F.floor(F.coalesce(F.col("l_discount"), F.lit(0)) * 100 + 0.5)
        .cast("long")
        .alias("x2"),
        F.floor(F.coalesce(F.col("l_extendedprice"), F.lit(0)) * 100 + 0.5)
        .cast("long")
        .alias("y"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = f.agg(
        F.count("*").alias("n"),
        F.sum(d38("x1")).alias("s1"),
        F.sum(d38("x2")).alias("s2"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("x1") * F.col("x1")).alias("s11"),
        F.sum(d38("x1") * F.col("x2")).alias("s12"),
        F.sum(d38("x2") * F.col("x2")).alias("s22"),
        F.sum(d38("x1") * F.col("y")).alias("s1y"),
        F.sum(d38("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    c = s.select(
        n,
        dbl("s1").alias("s1"),
        dbl("s2").alias("s2"),
        dbl("sy").alias("sy"),
        (dbl("s11") - (dbl("s1") / n) * dbl("s1") + F.lit(_RIDGE_L2) * n)
        .alias("a11"),
        (dbl("s12") - (dbl("s1") / n) * dbl("s2")).alias("a12"),
        (dbl("s22") - (dbl("s2") / n) * dbl("s2") + F.lit(_RIDGE_L2) * n)
        .alias("a22"),
        (dbl("s1y") - (dbl("s1") / n) * dbl("sy")).alias("b1"),
        (dbl("s2y") - (dbl("s2") / n) * dbl("sy")).alias("b2"),
    )
    det = F.nullif(
        F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"),
        F.lit(0.0),
    )
    w = c.select(
        "n",
        "s1",
        "s2",
        "sy",
        ((F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det)
        .alias("w1"),
        ((F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det)
        .alias("w2"),
    )
    icpt = (
        F.col("sy") - F.col("w1") * F.col("s1") - F.col("w2") * F.col("s2")
    ) / F.col("n")
    return w.select(
        F.floor(F.col("w1") * 1e6 + 0.5).cast("long").alias("w1_micro"),
        F.floor(F.col("w2") * 1e6 + 0.5).cast("long").alias("w2_micro"),
        F.floor(icpt * 1e6 + 0.5).cast("long").alias("intercept_micro"),
        F.floor(
            (
                F.col("w1") * _RIDGE_PROBE[0]
                + F.col("w2") * _RIDGE_PROBE[1]
                + icpt
            )
            * 1e3
            + 0.5
        )
        .cast("long")
        .alias("yhat_probe_milli"),
    )
