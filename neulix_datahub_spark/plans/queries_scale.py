"""Scale-pattern tier (round 6): operators whose POINT is the physical
strategy — each query pairs a scale-shaped Spark plan with a DuckDB
oracle that computes the same answer the naive way, so the hash check
proves the optimized decomposition is semantics-preserving.

The reference delegates arbitrary SQL to its warehouse
(``core/utils/db_core.py:119-135``); these are the shapes a warehouse
executes with specialized physical operators that Spark lacks natively,
re-expressed as compositions Catalyst CAN execute partition-parallel:

- ``promo_window_revenue`` — interval (theta) join decomposed into a
  bucketed equi-join (operators/rangejoin.py) vs a literal BETWEEN
  join in the oracle.
- ``incremental_agg_check`` — materialized-aggregate maintenance from
  a snapshot change feed (operators/incremental.py): the delta path's
  result is compared in-plan against a full recompute, and the oracle
  pins the recompute plus the match verdict.
- ``zorder_bucket_stats`` — Z-order (Morton) interleave as a pure
  bit-shift expression; the oracle unrolls the same interleave in SQL.
- ``priority_sample_check`` — Duffield-Lund-Thorup priority sampling
  with a portable integer-arithmetic PRNG, deterministic across
  engines (exact top-k by w/u priority, no libm in the sort key).
- ``schema_drift_stats`` — additive schema drift across parquet shards
  resolved by mergeSchema; oracle derives the same stats from the base
  table.
- ``mixture_resample_plan`` — temperature-scaled (alpha=0.5) source
  mixture with largest-remainder rounding; sqrt is IEEE
  correctly-rounded so both engines agree bit-for-bit.
- ``lexicon_filter_stats`` — word-list content filtering with per-lang
  quarantine rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from neulix_datahub_spark.functions.ranking import local_relation, ranked_topk
from neulix_datahub_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _money_sum(col: str) -> F.Column:
    """Exact checksum sum for a 2-dp money column stored as double:
    sum as DECIMAL(18,2) (associative, order-independent — a plain
    double sum of ~1e8+ magnitude flips its last cent between engines
    on partial-agg association alone), then cast the exact 2-dp value
    back to double (≤15 sig digits → correctly rounded, identical in
    every engine). SQL mirror: CAST(sum(CAST(c AS DECIMAL(18,2))) AS
    DOUBLE)."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


# ---------------------------------------------------------------------------
# Range join: overlapping promotion windows (one per nation, 180 days,
# starting 60 days apart -> every day is covered by up to 3 windows)
# joined to orders by date containment. The naive plan is a
# BroadcastNestedLoopJoin (quadratic at scale); the operator turns it
# into a shuffled equi-join on 90-day buckets.
# ---------------------------------------------------------------------------

_PROMO_EPOCH = "1993-01-01"
_PROMO_SPACING_DAYS = 60
_PROMO_LEN_DAYS = 180
_PROMO_BUCKET_DAYS = 90


def promo_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue captured by each nation's (synthetic, deterministic)
    180-day promotion window: window k = [epoch + 60k, epoch + 60k + 180]
    in days, k = n_nationkey. Windows overlap 3-deep, so this is a true
    many-to-many interval join — an order contributes to every window
    containing its date, which no CASE/truncation rewrite can express.

    Plan: intervals expand to ceil(180/90)+1 = 3 bucket rows each
    (75 rows total at any SF — the expansion is O(|intervals|), never
    O(|facts|)); orders bucket to floor(day/90); shuffled equi-join on
    the bucket id + exact containment re-check; then the usual partial+
    final hash agg per window. No nested-loop join appears in the plan
    (unit-pinned). At 100 TB the fact side streams through the same
    exchange any groupBy would need; interval count is independent of SF.
    """
    from neulix_datahub_spark.operators.rangejoin import range_join

    nation = _t(spark, sf_dir, "nation")
    epoch_day = F.datediff(F.lit(_PROMO_EPOCH).cast("date"), F.lit("1970-01-01").cast("date"))
    intervals = nation.select(
        F.col("n_nationkey").alias("window_id"),
        (epoch_day + F.col("n_nationkey") * _PROMO_SPACING_DAYS).alias("win_lo"),
        (
            epoch_day
            + F.col("n_nationkey") * _PROMO_SPACING_DAYS
            + F.lit(_PROMO_LEN_DAYS)
        ).alias("win_hi"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "order_day"
        ),
        "o_totalprice",
    )
    joined = range_join(
        orders, intervals, "order_day", "win_lo", "win_hi", _PROMO_BUCKET_DAYS
    )
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("sum_revenue"),
        )
        .orderBy("window_id")
    )


_PROMO_SQL = f"""
WITH intervals AS (
    SELECT n_nationkey AS window_id,
           date_diff('day', DATE '1970-01-01', DATE '{_PROMO_EPOCH}')
             + n_nationkey * {_PROMO_SPACING_DAYS} AS win_lo,
           date_diff('day', DATE '1970-01-01', DATE '{_PROMO_EPOCH}')
             + n_nationkey * {_PROMO_SPACING_DAYS} + {_PROMO_LEN_DAYS} AS win_hi
    FROM nation
),
pts AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day,
           o_totalprice
    FROM orders
)
SELECT window_id,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_revenue
FROM pts JOIN intervals
  ON pts.order_day BETWEEN intervals.win_lo AND intervals.win_hi
GROUP BY window_id
ORDER BY window_id
"""


# ---------------------------------------------------------------------------
# Sweep-line interval coverage: "how many promotion windows are active
# on each order date, and how much revenue lands under k-deep overlap".
# The naive form is the BETWEEN join again; the sweep line instead
# explodes each interval to two boundary EVENTS (+1 at lo, -1 at hi+1)
# and takes a running sum — O(|intervals|) extra rows total, and the
# coverage function is then a plain as-of/equi join against the facts.
# This is the decomposition that survives when intervals are LONG
# (bucket expansion would explode) — the dual of range_join's regime.
# ---------------------------------------------------------------------------


def window_coverage_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and order counts grouped by promotion-overlap depth
    (0..3): sweep-line running sum over the 25 nation windows gives each
    date-segment its coverage depth; orders join to their segment by
    bucket (the segment table is small and broadcastable at any SF —
    its size depends on interval COUNT, never on facts).

    Oracle computes depth per order the naive way (correlated BETWEEN
    count), so the hash proves the sweep line's boundary arithmetic
    (half-open +1/-1 at hi+1, running sum, segment assignment) exactly.
    """
    nation = _t(spark, sf_dir, "nation")
    epoch_day = F.datediff(
        F.lit(_PROMO_EPOCH).cast("date"), F.lit("1970-01-01").cast("date")
    )
    lo = (epoch_day + F.col("n_nationkey") * _PROMO_SPACING_DAYS).alias("lo")
    hi = (
        epoch_day
        + F.col("n_nationkey") * _PROMO_SPACING_DAYS
        + F.lit(_PROMO_LEN_DAYS)
    ).alias("hi")
    iv = nation.select(lo, hi)
    # boundary events: +1 at lo, -1 at hi+1 (windows are inclusive)
    events = iv.select(F.col("lo").alias("day"), F.lit(1).alias("d")).unionByName(
        iv.select((F.col("hi") + 1).alias("day"), F.lit(-1).alias("d"))
    )
    # bounded grain: window over per-DAY aggregates, not raw rows
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    segments = (
        events.groupBy("day")
        .agg(F.sum("d").alias("d"))
        .withColumn("depth", F.sum("d").over(w))
        .withColumn(
            "next_day",
            # bounded grain: same per-day boundary-event rows as above
            F.lead("day").over(Window.orderBy("day")),
        )
        .select(F.col("day").alias("seg_lo"), "next_day", "depth")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("order_day"),
        "o_totalprice",
    )
    # segment assignment IS a range join — but against a tiny,
    # non-overlapping, broadcastable segment table. The final segment
    # (depth 0, unbounded) and the days before the first boundary are
    # handled explicitly as depth-0 so every interval stays FINITE and
    # the bucket expansion stays O(|segments|).
    from neulix_datahub_spark.operators.rangejoin import range_join

    finite = segments.filter(F.col("next_day").isNotNull()).select(
        "seg_lo", (F.col("next_day") - 1).alias("seg_hi"), "depth"
    )
    in_range = range_join(
        orders, finite, "order_day", "seg_lo", "seg_hi", 365
    ).select("o_totalprice", "depth")
    bounds = finite.agg(
        F.min("seg_lo").alias("__lo"), F.max("seg_hi").alias("__hi")
    )
    outside = (
        orders.crossJoin(bounds)
        .filter((F.col("order_day") < F.col("__lo")) | (F.col("order_day") > F.col("__hi")))
        .select("o_totalprice", F.lit(0).cast("long").alias("depth"))
    )
    return (
        in_range.unionByName(outside)
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("sum_revenue"),
        )
        .orderBy("depth")
    )


_COVERAGE_SQL = f"""
WITH intervals AS (
    SELECT date_diff('day', DATE '1970-01-01', DATE '{_PROMO_EPOCH}')
             + n_nationkey * {_PROMO_SPACING_DAYS} AS win_lo,
           date_diff('day', DATE '1970-01-01', DATE '{_PROMO_EPOCH}')
             + n_nationkey * {_PROMO_SPACING_DAYS} + {_PROMO_LEN_DAYS} AS win_hi
    FROM nation
),
pts AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day,
           o_totalprice
    FROM orders
)
SELECT depth, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_revenue
FROM (
    SELECT (SELECT count(*) FROM intervals i
            WHERE pts.order_day BETWEEN i.win_lo AND i.win_hi) AS depth,
           o_totalprice
    FROM pts
)
GROUP BY depth
ORDER BY depth
"""


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: maintain GROUP BY o_orderpriority
# (count, sum totalprice) across a v1 -> v2 snapshot transition using
# ONLY the change feed (with pre-images), then compare in-plan against
# a full recompute of v2. The deterministic v1/v2 derivation from the
# orders fixture makes the whole experiment SQL-expressible, so the
# oracle pins both the v2 aggregate AND the match verdict.
#
#   v1 membership: o_orderkey % 7 != 3        (the %7==3 rows insert later)
#   v2 membership: o_orderkey % 9 != 4        (the %9==4 rows get deleted)
#   v2 updates:    %5==0 rows gain +1000.00   (in-group value update)
#   v2 migrations: %15==0 rows also move to priority '9-MOVED'
#                  (group-key change: pre-image leaves the old group,
#                  post-image enters the new one — the case a naive
#                  key-overwrite consumer gets wrong)
# ---------------------------------------------------------------------------


def _orders_versions(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    # Money flows through the snapshot/feed/maintenance machinery as
    # DECIMAL(18,2): the sums are then associative, the maintained
    # aggregate equals the recompute EXACTLY, and the emitted checksum
    # cannot flip its last cent on partial-agg order (a double sum of
    # ~1e9 magnitude can).
    k = F.col("o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    v1 = orders.filter(k % 7 != 3).select(
        "o_orderkey", "o_orderpriority", price.alias("o_totalprice")
    )
    v2 = (
        orders.filter(k % 9 != 4)
        .select(
            "o_orderkey",
            F.when(k % 15 == 0, F.lit("9-MOVED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
            F.when(k % 5 == 0, price + F.lit("1000.00").cast("decimal(18,2)"))
            .otherwise(price)
            .cast("decimal(18,2)")
            .alias("o_totalprice"),
        )
    )
    return v1, v2


def incremental_agg_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance end-to-end: publish v1 and v2 as
    snapshot-table versions, read the pre-image change feed
    (snapshot_diff, Delta-CDF row protocol), maintain the v1 aggregate
    with operators/incremental.py, and emit the maintained per-priority
    aggregate with a per-row verdict against the v2 full recompute.

    Scale shape: feed aggregation shuffles O(|changes|) rows; the merge
    join touches one row per TOUCHED group. The full recompute here
    exists only to pin correctness — production consumers run just the
    delta path. Counts must match exactly; float sums within 1e-9
    relative (see the operator's float-order caveat).
    """
    from neulix_datahub_spark.operators.incremental import apply_agg_delta
    from neulix_datahub_spark.sources.io import warehouse_scratch
    from neulix_datahub_spark.sources.snapshots import snapshot_diff, write_snapshot

    orders = _t(spark, sf_dir, "orders")
    v1, v2 = _orders_versions(orders)

    root = f"{warehouse_scratch(spark, 'neulix_incr_agg_')}/orders_mv"
    ver1 = write_snapshot(v1, root)
    write_snapshot(v2, root)
    feed = snapshot_diff(spark, root, ver1, key="o_orderkey", pre_image=True)

    agg_v1 = v1.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_totalprice").alias("sum_price"),
    )
    maintained = apply_agg_delta(
        agg_v1, feed, ["o_orderpriority"], "n_orders", {"sum_price": "o_totalprice"}
    )
    recomputed = v2.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("__rcnt"),
        F.sum("o_totalprice").alias("__rsum"),
    )
    return (
        maintained.join(recomputed, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            F.col("n_orders"),
            # decimal sums are exact — cast the 2-dp value to double
            # losslessly; no rounding needed or wanted
            F.col("sum_price").cast("double").alias("sum_price"),
            (
                (F.col("n_orders") == F.col("__rcnt"))
                & (F.col("sum_price") == F.col("__rsum"))  # exact: decimals
            ).alias("matches_recompute"),
        )
        .orderBy("o_orderpriority")
    )


_INCR_AGG_SQL = """
WITH v2 AS (
    SELECT CASE WHEN o_orderkey % 15 = 0 THEN '9-MOVED'
                ELSE o_orderpriority END AS o_orderpriority,
           CASE WHEN o_orderkey % 5 = 0
                THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST('1000.00' AS DECIMAL(18,2))
                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS o_totalprice
    FROM orders WHERE o_orderkey % 9 != 4
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o_totalprice) AS DOUBLE) AS sum_price,
       true AS matches_recompute
FROM v2
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Z-order bucket histogram: the Morton-interleave expression
# (sources/layout.py zorder_key — the clustering key behind
# write_zordered's data-skipping layout) verified bit-for-bit against a
# DuckDB oracle that unrolls the same shifts. Quantization bounds come
# from the table's own min/max (the "cheap agg" the docstring
# prescribes), so the check is scale-invariant.
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 2 cols x 8 bits = 16-bit key; top 4 bits -> 16 buckets


def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders along the 2-D z-curve over
    (o_custkey, o_totalprice): per top-4-bit z-bucket row count and
    revenue. The histogram is the layout-planning view (how evenly the
    curve splits the table = how even the output files of a z-ordered
    write will be), and hashing it against the oracle's unrolled
    interleave proves the bit math — clamping, quantization, bit
    placement — is exactly Morton order.

    Driver cost: one 4-value min/max agg (collected to build literal
    bounds); the histogram itself is one scan + 16-group hash agg.
    """
    from neulix_datahub_spark.sources.layout import zorder_key

    orders = _t(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    bounds = {
        "o_custkey": (float(b[0]), float(b[1])),
        "o_totalprice": (float(b[2]), float(b[3])),
    }
    z = zorder_key(bounds, bits=_Z_BITS)
    return (
        orders.withColumn("__z", z)
        .groupBy(F.shiftright(F.col("__z"), 2 * _Z_BITS - 4).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("sum_revenue"),
        )
        .orderBy("zbucket")
    )


def _morton_sql() -> str:
    """Unroll zorder_key's exact arithmetic for n=2, bits=_Z_BITS in
    DuckDB SQL: rank_j = clamp(floor(((x - lo) / span) * (2^bits - 1)));
    key |= (rank_j & (1 << bit)) * (1 << (bit * (n-1) + j))."""
    mx = (1 << _Z_BITS) - 1
    ranks = []
    for j, (col, lo, hi) in enumerate(
        [("o_custkey", "mn_ck", "mx_ck"), ("o_totalprice", "mn_tp", "mx_tp")]
    ):
        ranks.append(
            f"greatest(0, least({mx}, CAST(floor(((CAST({col} AS DOUBLE) - {lo})"
            f" / ({hi} - {lo})) * {float(mx)}) AS BIGINT)))"
        )
    terms = []
    for bit in range(_Z_BITS):
        for j in range(2):
            terms.append(f"((r{j} & {1 << bit}) * {1 << (bit + j)})")
    return (
        "SELECT " + " | ".join(terms) + " AS z, o_totalprice FROM "
        f"(SELECT {ranks[0]} AS r0, {ranks[1]} AS r1, o_totalprice "
        "FROM orders CROSS JOIN bounds)"
    )


_ZORDER_SQL = f"""
WITH bounds AS (
    SELECT CAST(min(o_custkey) AS DOUBLE) AS mn_ck,
           CAST(max(o_custkey) AS DOUBLE) AS mx_ck,
           CAST(min(o_totalprice) AS DOUBLE) AS mn_tp,
           CAST(max(o_totalprice) AS DOUBLE) AS mx_tp
    FROM orders
),
keyed AS ({_morton_sql()})
SELECT z >> {2 * _Z_BITS - 4} AS zbucket,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_revenue
FROM keyed
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Weighted sampling: priority sample of 10 documents per language,
# weight = n_chars. Deterministic across engines because the draw is
# pure integer arithmetic (operators/curation.py portable_uniform) and
# the priority w/u is one IEEE division — the oracle re-derives the
# SAME sample row-for-row, proving both the sampling design and its
# est_weight unbiased-estimator column.
# ---------------------------------------------------------------------------

_PS_K = 10


def priority_sample_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample (k=10, weight=n_chars) with DLT
    estimator weights. Longer documents are proportionally likelier to
    be drawn; sum(est_weight) over the sample estimates sum(n_chars)
    over the stratum unbiasedly — the audit-from-a-sample primitive.
    One window shuffle on lang; everything else is expression-level."""
    from neulix_datahub_spark.operators.curation import priority_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return (
        priority_sample(docs, _PS_K, "n_chars", strata_col="lang")
        .select("lang", "doc_id", "n_chars", F.round("est_weight", 4).alias("est_weight"))
        .orderBy("lang", "doc_id")
    )


_PS_LCG = (
    "((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)"
    " * 1103515245 + 12345) % 2147483648"
)

_PS_SQL = f"""
WITH d AS (
    SELECT lang, doc_id, n_chars,
           CAST(n_chars AS DOUBLE)
             / (CAST(({_PS_LCG}) + 1 AS DOUBLE) / 2147483649.0) AS priority
    FROM documents
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk
    FROM d
),
t AS (
    SELECT lang, max(CASE WHEN rk = {_PS_K + 1} THEN priority END) AS tau
    FROM r GROUP BY lang
)
SELECT r.lang, doc_id, n_chars,
       round(greatest(CAST(n_chars AS DOUBLE), coalesce(tau, 0.0)), 4) AS est_weight
FROM r JOIN t ON r.lang = t.lang
WHERE rk <= {_PS_K}
ORDER BY r.lang, doc_id
"""


# ---------------------------------------------------------------------------
# Additive schema drift across parquet shards, resolved by mergeSchema.
# Old shards lack the columns newer producers added — the normal state
# of any long-lived 100 TB table. The query writes two drifted shards
# and reads them back unified; the oracle derives the same stats from
# the base table, so the hash proves mergeSchema's null-fill semantics.
# ---------------------------------------------------------------------------


def schema_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Producer v1 wrote (o_orderkey, o_orderpriority, o_totalprice)
    for even keys; producer v2 added o_channel + o_margin for odd keys.
    A mergeSchema read unions the shards with nulls where v1 had no
    column (additive evolution — the only kind plain parquet supports;
    type CHANGES are refused upstream by snapshots.align_schemas).
    Output: per-priority row count, how many carry the new columns,
    and the margin sum over the rows that have it.

    Scale: mergeSchema costs one footer read per FILE at planning time
    (no data scan); the runtime plan is an ordinary union of scans with
    constant-null projection on the old shards.
    """
    from neulix_datahub_spark.sources.io import warehouse_scratch

    orders = _t(spark, sf_dir, "orders")
    root = warehouse_scratch(spark, "neulix_drift_")
    k = F.col("o_orderkey")
    v1 = orders.filter(k % 2 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    # Margin in exact DECIMAL arithmetic: price is 2-dp money, so 5% of
    # it is an exact 4-dp decimal whose half-up cut to 2 dp is well-
    # defined — round(double*0.05, 2) instead lands on .005 ties that
    # Spark (shortest-repr HALF_UP) and other engines (binary nearbyint)
    # break differently. The final double is k/100, lossless to store.
    margin = (
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit("0.05").cast("decimal(3,2)"))
        .cast("decimal(18,2)")
        .cast("double")
    )
    v2 = orders.filter(k % 2 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.when(k % 3 == 0, F.lit("web")).otherwise(F.lit("store")).alias("o_channel"),
        margin.alias("o_margin"),
    )
    v1.write.mode("overwrite").parquet(f"{root}/shard=v1")
    v2.write.mode("overwrite").parquet(f"{root}/shard=v2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/shard=v1", f"{root}/shard=v2"
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_margin").alias("n_with_margin"),
            # Sum as DECIMAL(18,2): o_margin is a 2-dp money value, so
            # the decimal sum is exact and order-independent — a plain
            # double sum of ~1e8 magnitude flips its last cent between
            # engines on partial-agg association alone. Cast back to
            # double (≤15 sig digits → correctly rounded, identical).
            F.sum(F.col("o_margin").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_margin"),
            F.countDistinct("o_channel").alias("n_channels"),
        )
        .orderBy("o_orderpriority")
    )


_DRIFT_SQL = """
SELECT o_orderpriority,
       count(*) AS n_rows,
       count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_margin,
       -- round(DECIMAL, 2) is HALF_UP like Spark's decimal cast;
       -- a decimal CAST here would round half-to-even instead.
       CAST(sum(CASE WHEN o_orderkey % 2 = 1
                     THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.05, 2)
                               AS DECIMAL(18,2))
                END) AS DOUBLE) AS sum_margin,
       CAST(count(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN
                (CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END)
            END) AS BIGINT) AS n_channels
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Temperature-scaled mixture planning: per-source sampling targets
# n_i ∝ sqrt(c_i) (alpha = 0.5 — the multilingual-rebalancing exponent),
# rounded to integers by largest remainder so the targets sum EXACTLY
# to the requested budget. sqrt is IEEE-correctly-rounded, so both
# engines compute bit-identical shares and the integer targets match
# exactly — no tolerance needed on the thing that matters.
# ---------------------------------------------------------------------------


def mixture_resample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-weight oversampled sources: budget = floor(total/2) docs
    re-allocated across sources by sqrt-temperature shares. Emits per
    source its raw count, exact target, and the rounded integer target;
    sum(target_n) == budget by construction (largest-remainder method,
    fractional-part ties broken by source name).

    Plan: one groupBy(source) count (the only scan), then all planning
    math happens on the |sources|-row aggregate — window functions over
    a frame whose size is independent of SF."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c_docs"))
    w = Window.partitionBy()
    budget = F.floor(F.sum("c_docs").over(w) / 2).cast("long")
    weighted = counts.select(
        "source",
        "c_docs",
        budget.alias("__budget"),
        (F.sqrt(F.col("c_docs")) / F.sum(F.sqrt(F.col("c_docs"))).over(w)).alias(
            "__share"
        ),
    )
    exact = F.col("__share") * F.col("__budget")
    flo = F.floor(exact).cast("long")
    planned = weighted.select(
        "source",
        "c_docs",
        "__budget",
        flo.alias("__floor"),
        (exact - flo).alias("__frac"),
    )
    ranked = planned.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy().orderBy(F.desc("__frac"), F.col("source"))
        ),
    ).withColumn("__deficit", (F.col("__budget") - F.sum("__floor").over(w)))
    return (
        ranked.select(
            "source",
            "c_docs",
            (
                F.col("__floor")
                + F.when(F.col("__rk") <= F.col("__deficit"), 1).otherwise(0)
            ).alias("target_n"),
        )
        .orderBy("source")
    )


_MIXTURE_SQL = """
WITH counts AS (
    SELECT source, count(*) AS c_docs FROM documents GROUP BY source
),
weighted AS (
    SELECT source, c_docs,
           CAST(floor(sum(c_docs) OVER () / 2) AS BIGINT) AS budget,
           sqrt(c_docs) / sum(sqrt(c_docs)) OVER () AS share
    FROM counts
),
planned AS (
    SELECT source, c_docs, budget,
           CAST(floor(share * budget) AS BIGINT) AS flo,
           share * budget - floor(share * budget) AS frac
    FROM weighted
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY frac DESC, source) AS rk,
           budget - sum(flo) OVER () AS deficit
    FROM planned
)
SELECT source, c_docs,
       flo + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS target_n
FROM ranked
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Lexicon-based content filtering: the word-list quarantine every
# training-data pipeline runs before anything model-based. Pure
# expression-level tokenize + array intersection — no Python in the
# hot path, trivially parallel at any scale.
# ---------------------------------------------------------------------------

_LEXICON = ("slow", "crash", "spill", "skew", "fail")
_LEX_RATIO = 0.03


def lexicon_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quarantine profile under a flagged-word lexicon:
    a document quarantines when flagged tokens exceed 3% of its tokens.
    Tokenization is lower + split on non-letters (identical regex
    semantics in both engines); the hit count is a JVM-side
    filter-over-array, not a UDF."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    lex = F.array(*[F.lit(x) for x in _LEXICON])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))
    scored = docs.select(
        "lang",
        F.size(toks).alias("__n_tok"),
        hits.alias("__hits"),
    ).withColumn(
        "__quarantined",
        (F.col("__hits").cast("double") > _LEX_RATIO * F.col("__n_tok")).cast("int"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__quarantined").alias("n_quarantined"),
            # try_divide: a letterless document has __n_tok = 0, and a
            # plain / would abort the whole query under ANSI mode
            F.round(
                F.avg(F.try_divide(F.col("__hits"), F.col("__n_tok"))), 6
            ).alias("avg_flag_ratio"),
        )
        .orderBy("lang")
    )


_LEXICON_SQL = f"""
WITH scored AS (
    SELECT lang,
           len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t != '')) AS n_tok,
           len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t IN {tuple(_LEXICON)!r})) AS hits
    FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN CAST(hits AS DOUBLE) > {_LEX_RATIO} * n_tok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       round(avg(CAST(hits AS DOUBLE) / NULLIF(n_tok, 0)), 6) AS avg_flag_ratio
FROM scored
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Key-skew diagnostic: the measurement that decides between salting,
# broadcasting, and doing nothing (operators/skew.py key_skew_profile).
# One histogram pass; only the histogram crosses the second exchange.
# ---------------------------------------------------------------------------


def key_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile of events.user_id — the key every sessionization /
    funnel / stateful query in this repo shuffles on. skew_ratio and
    normalized entropy are the alert thresholds; top5_share says whether
    salting or an AQE skew split would even matter."""
    from neulix_datahub_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_n=5)


_SKEW_PROFILE_SQL = """
WITH hist AS (
    SELECT user_id, count(*) AS c FROM events GROUP BY user_id
),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rk,
           CAST(c AS DOUBLE) / sum(c) OVER () AS p
    FROM hist
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(max(c) AS BIGINT) AS max_key_rows,
       median(c) AS median_key_rows,
       round(max(c) / median(c), 4) AS skew_ratio,
       round(sum(CASE WHEN rk <= 5 THEN c ELSE 0 END) / sum(c), 6) AS top5_share,
       round((-sum(p * log2(p))) / log2(CAST(count(*) AS DOUBLE)), 6) AS norm_entropy
FROM ranked
"""


# ---------------------------------------------------------------------------
# Bounded per-user contribution: cap each user at N events (deterministic
# first-N by time) and measure the distortion per event type. The
# standard robustness/DP-adjacent preprocessing step — no user may
# dominate an aggregate — and at scale it doubles as hot-key abatement:
# the cap bounds every window partition before the expensive work.
# ---------------------------------------------------------------------------

_CAP_N = 20


def capped_contribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: rows and value-sum before vs after capping every
    user at their first 20 events (ts, event_id order — deterministic).
    kept_frac quantifies how much the heaviest users dominate. One
    user-keyed window (the same exchange the downstream per-user
    analytics need anyway) + one hash agg."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("__rk") <= _CAP_N).cast("long")).alias("n_capped"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(
                F.sum(F.when(F.col("__rk") <= _CAP_N, F.col("value")).otherwise(0.0)),
                4,
            ).alias("sum_value_capped"),
            F.round(
                F.sum((F.col("__rk") <= _CAP_N).cast("double")) / F.count(F.lit(1)),
                6,
            ).alias("kept_frac"),
        )
        .orderBy("event_type")
    )


_CAPPED_SQL = f"""
WITH ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
    FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN rk <= {_CAP_N} THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
       round(sum(value), 4) AS sum_value,
       round(sum(CASE WHEN rk <= {_CAP_N} THEN value ELSE 0.0 END), 4)
           AS sum_value_capped,
       round(sum(CASE WHEN rk <= {_CAP_N} THEN 1.0 ELSE 0.0 END) / count(*), 6)
           AS kept_frac
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Arrow-native grouped map: per-returnflag covariance matrix of three
# lineitem measures via applyInArrow (Spark 4's zero-pandas grouped-map
# API — operators/timeseries.py grouped_cov), hashed against DuckDB's
# covar_pop over the same pairs.
# ---------------------------------------------------------------------------

_COV_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def grouped_cov_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix (upper triangle + diagonal) of
    quantity/price/discount per l_returnflag, computed in the Arrow
    grouped map. One shuffle on the 3-value group key; each group's
    matrix is numpy on a zero-copy column stack.

    All three measures are 2-dp fixed-point decimals stored as doubles,
    so ``fixed_point_scale=100`` makes the 6-dp covariance DECIMAL-
    EXACT (integer sums + integer half-up division — see grouped_cov):
    the oracle evaluates the identical integer formula on HUGEINTs, so
    the hashed doubles are bit-identical by construction, immune to
    summation association and cross-engine round() asymmetry."""
    from neulix_datahub_spark.operators.timeseries import grouped_cov

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", *_COV_COLS)
    return grouped_cov(
        li, "l_returnflag", _COV_COLS, fixed_point_scale=100
    ).orderBy("l_returnflag", "var_x", "var_y")


def _cov_pairs_sql() -> str:
    # Mirrors grouped_cov's fixed_point_scale=100 integer formula:
    # num = n·Σab − Σa·Σb, den = n²·100², q = half_up(|num|·10⁶ / den),
    # cov = ±q / 10⁶.  q < 2⁵³ so the final double is exact.
    parts = []
    for i, a in enumerate(_COV_COLS):
        for j, b in enumerate(_COV_COLS):
            if j < i:
                continue
            parts.append(
                f"""
SELECT l_returnflag, '{a}' AS var_x, '{b}' AS var_y, n,
       CAST(CASE WHEN num >= 0
                 THEN (2 * num * 1000000 + den) // (2 * den)
                 ELSE -((2 * (-num) * 1000000 + den) // (2 * den))
            END AS DOUBLE) / 1000000.0 AS cov
FROM (
    SELECT l_returnflag, n, n * sab - sa * sb AS num,
           n * n * 10000 AS den
    FROM (
        SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
               sum(ai) AS sa, sum(bi) AS sb, sum(ai * bi) AS sab
        FROM (
            SELECT l_returnflag,
                   CAST(round({a} * 100) AS HUGEINT) AS ai,
                   CAST(round({b} * 100) AS HUGEINT) AS bi
            FROM lineitem
        ) GROUP BY l_returnflag
    )
)"""
            )
    return " UNION ALL ".join(parts)


_GROUPED_COV_SQL = f"""
SELECT l_returnflag, var_x, var_y, CAST(n AS BIGINT) AS n, cov
FROM ({_cov_pairs_sql()})
ORDER BY l_returnflag, var_x, var_y
"""


# ---------------------------------------------------------------------------
# Exact set-similarity self-join via prefix filtering (PPJoin family):
# zero-false-negative complement to the MinHash-LSH path. The oracle is
# the brute-force all-pairs Jaccard — the hash match proves the prefix
# principle pruned candidates WITHOUT losing a single qualifying pair.
# ---------------------------------------------------------------------------

_PF_THRESHOLD = 0.6


def prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with trigram-shingle Jaccard >= 0.6, found by
    rarest-element prefix filtering (operators/dedupe.py
    prefix_filter_join over _shingles(text, 3) — word sets are
    near-degenerate on this corpus's small vocabulary; shingles isolate
    the true near-duplicates). Candidates explode only each doc's
    |s|-ceil(t|s|)+1 RAREST shingles, so the equi-join blocks are the
    smallest the corpus allows; the oracle enumerates every pair."""
    from neulix_datahub_spark.operators.dedupe import _shingles, prefix_filter_join

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_join(
        docs, _PF_THRESHOLD, set_expr=_shingles(F.col("text"), 3)
    ).orderBy("id_a", "id_b")


_PF_SQL = f"""
WITH docs AS (
    SELECT doc_id AS id,
           list_distinct(
               CASE WHEN len(t) >= 3
                    THEN [array_to_string(t[i:i+2], ' ')
                          for i in generate_series(1, len(t) - 2)]
                    ELSE [array_to_string(t, ' ')] END
           ) AS toks
    FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS t
        FROM documents
    )
),
sized AS (SELECT id, toks, len(toks) AS sz FROM docs WHERE len(toks) > 0)
SELECT id_a, id_b, jaccard FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (a.sz + b.sz - len(list_intersect(a.toks, b.toks))),
                 6) AS jaccard
    FROM sized a JOIN sized b ON a.id < b.id
)
WHERE jaccard >= {_PF_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Result-cache lifecycle under the driver gate: publish-on-miss, serve
# the SECOND call from the snapshot without republishing, and return
# the cached rows — which must hash-equal the oracle running the
# underlying SQL directly. cache_hit is an in-plan verdict the oracle
# pins true (the ivf_recall_check pattern for non-SQL side effects).
# ---------------------------------------------------------------------------


def cached_query_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by priority served through the plan-fingerprint cache
    (sources/result_cache.py): first call computes+publishes, second
    call must hit (no new snapshot version — asserted in the emitted
    cache_hit column). The returned rows come FROM THE CACHE, so the
    oracle hash also proves the publish→read round-trip is lossless."""
    from neulix_datahub_spark.sources.io import warehouse_scratch
    from neulix_datahub_spark.sources.result_cache import (
        cached_result,
        plan_fingerprint,
    )
    from neulix_datahub_spark.sources.snapshots import snapshot_versions

    root = f"{warehouse_scratch(spark, 'neulix_result_cache_')}/cache"

    def q() -> DataFrame:
        return (
            _t(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum("o_totalprice").alias("sum_revenue"),
            )
        )

    cached_result(q(), root)  # miss: compute + publish
    out = cached_result(q(), root)  # hit: served from the snapshot
    n_versions = len(snapshot_versions(f"{root}/{plan_fingerprint(q())}"))
    return out.select(
        "o_orderpriority",
        "n_orders",
        "sum_revenue",
        F.lit(n_versions == 1).alias("cache_hit"),
    ).orderBy("o_orderpriority")


_CACHED_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_revenue,
       true AS cache_hit
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# k-anonymity risk profile: the release check the PII tier leads into —
# after direct identifiers are scrubbed, does the categorical shape
# still isolate individuals?
# ---------------------------------------------------------------------------

_KANON_K = 10


def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer re-identification risk under the quasi-identifier set
    (nation, market segment, account-balance sign): groups smaller than
    k=10 are re-identifiable. One histogram pass (operators/quality.py
    k_anonymity_profile)."""
    from neulix_datahub_spark.operators.quality import k_anonymity_profile

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal") >= 0).alias("balance_nonneg"),
    )
    return k_anonymity_profile(
        cust, ["c_nationkey", "c_mktsegment", "balance_nonneg"], k=_KANON_K
    )


_KANON_SQL = f"""
WITH hist AS (
    SELECT c_nationkey, c_mktsegment, c_acctbal >= 0 AS balance_nonneg,
           count(*) AS c
    FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN c < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS groups_below_k,
       CAST(sum(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END) AS BIGINT)
           AS rows_at_risk,
       round(sum(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END) / sum(c), 6)
           AS at_risk_frac,
       CAST(min(c) AS BIGINT) AS effective_k
FROM hist
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): the 64-dim embedding splits into two 32-dim
# subspaces, each with its own k=8 codebook trained by the SAME
# deterministic Lloyd machinery kmeans_cluster_profile already proved
# cross-engine (md5 seeds, squared-distance argmin, empty-cluster
# carry-over). A vector's PQ code is its (sub0, sub1) centroid pair —
# 64 floats compress to 2 bytes; the per-subspace reconstruction error
# (inertia) is the quantization-quality metric an ANN deployment
# monitors. The oracle replays BOTH Lloyd runs as prefixed unrolled
# CTEs and unions the profiles.
# ---------------------------------------------------------------------------

_PQ_SUBSPACES = [(1, 32), (33, 32)]
_PQ_K = 8
_PQ_ITERS = 3


def pq_codebook_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (subspace, code): vector count and reconstruction inertia of
    the PQ codebooks. Subspace codebooks train independently (the defining
    PQ property — memory k·m·(d/m) instead of k^m·d), each via
    operators/clustering.py kmeans_lloyd on the sliced vector."""
    from neulix_datahub_spark.operators.clustering import (
        kmeans_inertia,
        kmeans_lloyd,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = None
    for s, (start, ln) in enumerate(_PQ_SUBSPACES):
        sub = emb.select(
            "vec_id", F.slice("embedding", start, ln).alias("embedding")
        )
        assigned, cents = kmeans_lloyd(sub, k=_PQ_K, iters=_PQ_ITERS)
        prof = kmeans_inertia(assigned, cents).withColumn(
            "subspace", F.lit(s)
        )
        out = prof if out is None else out.unionByName(prof)
    return out.select("subspace", "cluster", "n_vecs", "inertia").orderBy(
        "subspace", "cluster"
    )


def _pq_oracle_sql() -> str:
    """Two prefixed unrolled-Lloyd blocks (the _kmeans_oracle_sql recipe
    from queries_llm.py, parameterized by vector slice), unioned."""
    seed_order = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    ctes, selects = [], []
    for s, (start, ln) in enumerate(_PQ_SUBSPACES):
        p = f"s{s}_"
        assign = (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v="e.v", c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {p}e e CROSS JOIN {{prev}} c) WHERE rn = 1"
        )
        ctes.append(
            f"{p}e AS (\n  SELECT vec_id,"
            f" list_transform(embedding[{start}:{start + ln - 1}],"
            " x -> CAST(x AS DOUBLE)) AS v\n  FROM embeddings)"
        )
        ctes.append(
            f"{p}c0 AS (\n  SELECT row_number() OVER (ORDER BY {seed_order}) - 1"
            f" AS cluster, v AS c\n  FROM {p}e ORDER BY {seed_order} LIMIT {_PQ_K})"
        )
        prev = f"{p}c0"
        for i in range(1, _PQ_ITERS + 1):
            ctes.append(f"{p}a{i} AS (\n  " + assign.format(prev=prev) + ")")
            ctes.append(
                f"{p}u{i} AS (\n"
                "  SELECT cluster, list(m ORDER BY d) AS c FROM (\n"
                "    SELECT cluster, d, avg(x) AS m FROM (\n"
                f"      SELECT cluster, unnest(v) AS x,"
                f" generate_subscripts(v, 1) AS d FROM {p}a{i})\n"
                "    GROUP BY cluster, d)\n"
                "  GROUP BY cluster)"
            )
            ctes.append(
                f"{p}c{i} AS (\n  SELECT p.cluster, coalesce(u.c, p.c) AS c\n"
                f"  FROM {prev} p LEFT JOIN {p}u{i} u ON p.cluster = u.cluster)"
            )
            prev = f"{p}c{i}"
        ctes.append(f"{p}afinal AS (\n  " + assign.format(prev=prev) + ")")
        selects.append(
            f"SELECT {s} AS subspace, a.cluster, count(*) AS n_vecs,\n"
            "       round(sum(" + d2.format(v="a.v", c="c.c") + "), 4) AS inertia\n"
            f"FROM {p}afinal a JOIN {prev} c ON a.cluster = c.cluster\n"
            "GROUP BY a.cluster"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT * FROM (" + " UNION ALL ".join(selects) + ")\n"
        "ORDER BY subspace, cluster"
    )


_PQ_SQL = _pq_oracle_sql()


# ---------------------------------------------------------------------------
# IVF-PQ composed retrieval (round 12, r11-verdict task 2): the full ANN
# funnel — k-means coarse probe → PQ asymmetric-distance shortlist →
# exact re-rank — with EVERY stage replayed by the oracle (three
# unrolled Lloyd runs, the driver-side probe/cell argmins as SQL
# ORDER-BY-LIMIT, the cell cut, the re-rank), so the funnel counts
# (n_candidates, n_shortlist) hash-check as values rather than being
# pinned verdicts. Planted-recall geometry shared with the IVF checks.
# ---------------------------------------------------------------------------

_IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS = 8, 3
_IVFPQ_PROBES = 2
_IVFPQ_PQ_K, _IVFPQ_PQ_ITERS = 8, 3
_IVFPQ_TOP_CELLS = 4


def ivf_pq_search_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 composed ANN retrieval: ``operators/similarity.py
    ivf_pq_search`` over the planted corpus (10 near-copies of probe
    vec 0, the shared _planted_recall_result geometry). Emits the
    composed search's top-10 (rank, id, 6-dp exact score) plus the
    funnel counts — corpus size, coarse-probe candidates, PQ shortlist
    — and two COMPUTED (not pinned) verdicts: recall of the composed
    result against the brute-force exact top-10, and that the PQ stage
    strictly pruned the coarse candidates. Every number is replayed by
    the DuckDB oracle from first principles; measured at all fixture
    SFs the recall is 10/10 and the shortlist is ~top_cells/k² of the
    candidates."""
    from neulix_datahub_spark.operators.similarity import (
        _cosine_to_literal,
        ivf_pq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__q")
    )
    planted = qrow.crossJoin(spark.range(1, 11)).select(
        (F.lit(1_000_000) + F.col("id")).alias("vec_id"),
        F.transform(
            "__q", lambda x: x + F.col("id").cast("double") * F.lit(0.002)
        ).alias("embedding"),
    )
    corpus = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        .unionByName(planted)
        .localCheckpoint(eager=True)
    )
    topk, info = ivf_pq_search(
        corpus,
        qvec,
        k=10,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        n_probes=_IVFPQ_PROBES,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
        top_cells=_IVFPQ_TOP_CELLS,
    )
    exact = (
        corpus.select(
            "vec_id",
            F.round(_cosine_to_literal(F.col("embedding"), qvec), 6).alias(
                "__s"
            ),
        )
        .orderBy(F.desc("__s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.lit(1).alias("__e"))
    )
    n_hit = (
        topk.join(exact, "vec_id", "left")
        .agg(F.sum("__e").cast("bigint").alias("h"))
        .first()["h"]
    )
    n_corpus = corpus.count()
    # rank the k-row shortlist on the driver (bounded collect — no
    # unpartitioned WindowExec over the probe result)
    ranked = ranked_topk(topk, [F.desc("score"), F.asc("vec_id")], 10)
    return ranked.select(
        "rank",
        "vec_id",
        "score",
        F.lit(n_corpus).cast("long").alias("n_corpus"),
        F.lit(info["n_candidates"]).cast("long").alias("n_candidates"),
        F.lit(info["n_shortlist"]).cast("long").alias("n_shortlist"),
        F.lit(int(n_hit)).cast("long").alias("n_in_exact_top10"),
        (F.lit(int(n_hit)) / F.lit(10.0) >= 0.95).alias("recall_ge_95pct"),
        (
            F.lit(info["n_shortlist"]) < F.lit(info["n_candidates"])
        ).alias("pq_pruned"),
    ).orderBy("rank")


def ivfpq_index_lifecycle_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 persisted-index LIFECYCLE (round 12): the at-rest IVF-PQ form
    — ``build_ivfpq_index`` trains coarse + PQ codebooks on the PRIOR
    corpus (the fixture embeddings) and lands codes partitioned by
    coarse cell; the 10 planted near-copies of probe vec 0 then arrive
    as a never-seen DELTA and ``ingest_ivfpq_delta`` encodes them under
    the FROZEN codebooks (the train-once/encode-forever discipline —
    a centroid structure can't give incremental==batch, so the index
    freezes instead and documents rebuild-on-drift);
    ``query_ivfpq_index`` answers from the probed cell directories
    only, with the PQ cut running on codes PRECOMPUTED at rest.

    The DuckDB oracle replays the whole lifecycle: three Lloyd runs
    over the PRIOR relation, frozen-codebook encode of prior ∪ delta,
    the probe/cell argmins, the cut, the re-rank, and the ingest
    bookkeeping (n_new, n_vecs) — every count hash-checks as a value;
    recall and pruning verdicts are computed, not pinned. Measured:
    recall 10/10 at every fixture SF even though the codebooks never
    saw the plants."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        ingest_ivfpq_delta,
        query_ivfpq_index,
    )
    from neulix_datahub_spark.operators.similarity import _cosine_to_literal
    from neulix_datahub_spark.sources.io import warehouse_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__q")
    )
    prior = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    plants = qrow.crossJoin(spark.range(1, 11)).select(
        (F.lit(1_000_000) + F.col("id")).alias("vec_id"),
        F.transform(
            "__q", lambda x: x + F.col("id").cast("double") * F.lit(0.002)
        ).alias("embedding"),
    )
    path = f"{warehouse_scratch(spark, '_neulix_ivfpq_')}/index"
    build_ivfpq_index(
        prior,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
    )
    st = ingest_ivfpq_delta(spark, plants, path)
    topk, info = query_ivfpq_index(
        spark,
        path,
        qvec,
        k=10,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
    )
    corpus = prior.unionByName(plants)
    exact = (
        corpus.select(
            "vec_id",
            F.round(_cosine_to_literal(F.col("embedding"), qvec), 6).alias(
                "__s"
            ),
        )
        .orderBy(F.desc("__s"), F.asc("vec_id"))
        .limit(10)
        .select(F.col("vec_id").alias("id"), F.lit(1).alias("__e"))
    )
    n_hit = (
        topk.join(exact, "id", "left")
        .agg(F.sum("__e").cast("bigint").alias("h"))
        .first()["h"]
    )
    # rank the k-row shortlist on the driver (bounded collect — no
    # unpartitioned WindowExec over the probe result)
    ranked = ranked_topk(topk, [F.desc("score"), F.asc("id")], 10)
    return ranked.select(
        "rank",
        F.col("id").alias("vec_id"),
        "score",
        F.lit(int(st["n_new"])).cast("long").alias("n_new"),
        F.lit(int(st["n_vecs"])).cast("long").alias("n_vecs"),
        F.lit(info["n_candidates"]).cast("long").alias("n_candidates"),
        F.lit(info["n_shortlist"]).cast("long").alias("n_shortlist"),
        F.lit(int(n_hit)).cast("long").alias("n_in_exact_top10"),
        (F.lit(int(n_hit)) / F.lit(10.0) >= 0.95).alias("recall_ge_95pct"),
        (
            F.lit(info["n_shortlist"]) < F.lit(info["n_candidates"])
        ).alias("pq_pruned"),
    ).orderBy("rank")


def ivfpq_batch_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 batch retrieval against the at-rest IVF-PQ index (round 12):
    every probe (vec_id % 200 == 0) gets 5 planted near-copies
    (i·0.002 per-dim shift — the ivf_batch_recall_check geometry),
    the index builds over the planted corpus, and
    ``query_ivfpq_index_batch`` answers ALL probes in one job —
    probe-side coarse argmin + ADC cell ranking as expressions, the
    probe side broadcast against the codes scan. Emits per probe the
    exact top-5 ids, the batch hit count, and a full-recall verdict —
    every value replayed by the DuckDB oracle (three Lloyd runs,
    per-probe probe/cell windows, the cell-key join, both re-ranks)."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index_batch,
    )
    from neulix_datahub_spark.operators.similarity import _norm
    from neulix_datahub_spark.sources.io import warehouse_scratch

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    planted = probes.crossJoin(spark.range(1, 6)).select(
        (F.lit(2_000_000) + F.col("vec_id") * 100 + F.col("id")).alias(
            "vec_id"
        ),
        F.transform(
            "embedding",
            lambda x: x + F.col("id").cast("double") * F.lit(0.002),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted).localCheckpoint(eager=True)
    path = f"{warehouse_scratch(spark, '_neulix_ivfpq_batch_')}/index"
    build_ivfpq_index(
        corpus,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
    )
    batch = query_ivfpq_index_batch(
        spark,
        probes,
        path,
        k=5,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
    ).select("probe_id", "neighbor_id", F.lit(0).alias("e"), F.lit(1).alias("i"))
    p_side = F.broadcast(
        probes.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("__pv"),
            _norm(F.col("embedding")).alias("__pn"),
        )
    )
    scored = (
        corpus.join(p_side, corpus["vec_id"] != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"), F.col("__pv"), lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (_norm(F.col("embedding")) * F.col("__pn")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("probe_id", "neighbor_id", F.lit(1).alias("e"), F.lit(0).alias("i"))
    )
    per_pair = (
        exact.unionByName(batch)
        .groupBy("probe_id", "neighbor_id")
        .agg(F.max("e").alias("e"), F.max("i").alias("i"))
    )
    return (
        per_pair.groupBy("probe_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("e") == 1, F.col("neighbor_id"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("exact_top5_ids"),
            F.sum("e").cast("bigint").alias("n_exact"),
            F.sum(F.col("e") * F.col("i")).cast("bigint").alias(
                "n_in_exact_top5"
            ),
            (F.sum(F.col("e") * F.col("i")) >= 5).alias("batch_recall_full"),
        )
        .orderBy("probe_id")
    )


def ivfpq_batch_residual_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 residual-mode batch retrieval (round 13 — closing the r12
    refusal): the same probe fleet as ``ivfpq_batch_recall_check``
    (every 200th vector, 5 planted near-copies each) against an index
    built with ``encode='residual'`` (IVFADC). The insight that lifts
    the refusal: the per-(probe, coarse) ADC cross terms
    ``dot(centroid_half, codeword)`` are probe-INDEPENDENT — constants
    per (coarse, codeword) pair — so the whole ``inner`` denominator
    precomputes driver-side and the only probe-side addition over
    plain mode is the coarse_k-entry ``dot(probe, centroid_g)``
    numerator table. Batch == per-probe :func:`query_ivfpq_index`
    bit-exactly (unit-pinned); this query proves recall and replays
    every stage in DuckDB: coarse Lloyd, residual construction, two
    residual-space Lloyd runs, per-probe probed cells, the per-probe
    (coarse, c0, c1) triple ranking, the triple-key shortlist join,
    both re-ranks."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index_batch,
    )
    from neulix_datahub_spark.operators.similarity import _norm
    from neulix_datahub_spark.sources.io import warehouse_scratch

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    planted = probes.crossJoin(spark.range(1, 6)).select(
        (F.lit(2_000_000) + F.col("vec_id") * 100 + F.col("id")).alias(
            "vec_id"
        ),
        F.transform(
            "embedding",
            lambda x: x + F.col("id").cast("double") * F.lit(0.002),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted).localCheckpoint(eager=True)
    path = f"{warehouse_scratch(spark, '_neulix_ivfadc_batch_')}/index"
    build_ivfpq_index(
        corpus,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
        encode="residual",
    )
    batch = query_ivfpq_index_batch(
        spark,
        probes,
        path,
        k=5,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
    ).select(
        "probe_id", "neighbor_id", F.lit(0).alias("e"), F.lit(1).alias("i")
    )
    p_side = F.broadcast(
        probes.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("__pv"),
            _norm(F.col("embedding")).alias("__pn"),
        )
    )
    scored = corpus.join(p_side, corpus["vec_id"] != F.col("probe_id")).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"), F.col("__pv"), lambda x, y: x * y
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / (_norm(F.col("embedding")) * F.col("__pn")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select(
            "probe_id", "neighbor_id", F.lit(1).alias("e"), F.lit(0).alias("i")
        )
    )
    per_pair = (
        exact.unionByName(batch)
        .groupBy("probe_id", "neighbor_id")
        .agg(F.max("e").alias("e"), F.max("i").alias("i"))
    )
    return (
        per_pair.groupBy("probe_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("e") == 1, F.col("neighbor_id"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("exact_top5_ids"),
            F.sum("e").cast("bigint").alias("n_exact"),
            F.sum(F.col("e") * F.col("i")).cast("bigint").alias(
                "n_in_exact_top5"
            ),
            (F.sum(F.col("e") * F.col("i")) >= 5).alias("batch_recall_full"),
        )
        .orderBy("probe_id")
    )


def ivfpq_recall_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 recall-drift monitor (round 13, r12-verdict task 5): the
    IVF-PQ docstring names "recall drift under distribution shift" as
    the frozen-codebook rebuild trigger — this query makes the trigger
    a NUMBER. ``audit_ivfpq_recall`` compares the index's batch top-10
    against the exact top-10 over the same at-rest vectors, before and
    after ingesting a SHIFTED synthetic delta (every 5th base vector
    translated +0.5 per dim — a tight cluster the day-0 codebooks never
    saw).

    What drift looks like on THIS index (measured first, SCALE.md
    §r13): the exact re-rank HOLDS recall — the shifted cluster
    concentrates into few (coarse, c0, c1) cells, all probed and kept,
    so the true neighbors stay in the funnel — while the per-probe
    SHORTLIST balloons toward the cluster size (~3× here, ~cluster/
    corpus-share in general), because the frozen ADC table cannot
    discriminate within a region it never trained on. Both numbers are
    emitted; ``drift_detected`` fires on shortlist amplification ≥ 2×,
    the efficiency collapse that precedes any recall loss and the
    operational rebuild / cell-cap trigger. The DuckDB oracle replays
    EVERYTHING: three Lloyd runs, both encodes (delta under frozen
    centroids), both batch-probe funnels, both exact top-10 sides, and
    the amplification arithmetic."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        audit_ivfpq_recall,
        build_ivfpq_index,
        ingest_ivfpq_delta,
    )
    from neulix_datahub_spark.sources.io import warehouse_scratch

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).localCheckpoint(eager=True)
    path = f"{warehouse_scratch(spark, '_neulix_ivfpq_drift_')}/index"
    build_ivfpq_index(
        emb,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
    )
    base_probes = emb.filter(F.col("vec_id") % 200 == 0)
    a0 = (
        audit_ivfpq_recall(
            spark, base_probes, path, k=10,
            n_probes=_IVFPQ_PROBES, top_cells=_IVFPQ_TOP_CELLS,
        )
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("n_hits").alias("h"),
            F.sum("n_exact").alias("e"),
            F.sum("n_shortlist").alias("sl"),
        )
        .first()
    )
    delta = emb.filter(F.col("vec_id") % 5 == 2).select(
        (F.lit(3_000_000) + F.col("vec_id")).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.5)).alias(
            "embedding"
        ),
    )
    ingest_ivfpq_delta(spark, delta, path)
    shift_probes = delta.filter((F.col("vec_id") - 3_000_000) % 100 == 2)
    a1 = (
        audit_ivfpq_recall(
            spark, shift_probes, path, k=10,
            n_probes=_IVFPQ_PROBES, top_cells=_IVFPQ_TOP_CELLS,
        )
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("n_hits").alias("h"),
            F.sum("n_exact").alias("e"),
            F.sum("n_shortlist").alias("sl"),
        )
        .first()
    )
    amp = (int(a1["sl"]) / int(a1["np"])) / (int(a0["sl"]) / int(a0["np"]))
    return spark.range(1).select(
        F.lit(int(a0["np"])).cast("long").alias("n_base_probes"),
        F.lit(int(a0["h"])).cast("long").alias("base_hits"),
        F.lit(int(a0["e"])).cast("long").alias("base_exact"),
        F.lit(int(a0["sl"])).cast("long").alias("base_shortlist"),
        F.lit(int(a1["np"])).cast("long").alias("n_shift_probes"),
        F.lit(int(a1["h"])).cast("long").alias("shift_hits"),
        F.lit(int(a1["e"])).cast("long").alias("shift_exact"),
        F.lit(int(a1["sl"])).cast("long").alias("shift_shortlist"),
        F.round(
            F.lit(int(a0["h"])) / F.lit(int(a0["e"])).cast("double"), 4
        ).alias("base_recall"),
        F.round(
            F.lit(int(a1["h"])) / F.lit(int(a1["e"])).cast("double"), 4
        ).alias("shift_recall"),
        F.round(F.lit(float(amp)), 4).alias("shortlist_amplification"),
        F.lit(bool(amp >= 2.0)).alias("drift_detected"),
    )


def ivfpq_delete_lifecycle_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 delete lifecycle (round 13): the index operation production
    needs that the r12 lifecycle lacked — dedup removals and
    right-to-be-forgotten both delete by id. ``delete_from_ivfpq_index``
    appends the ids to a tombstone ledger; every query path reads
    through the broadcast tombstone anti-join, so a deleted id
    can never be returned; ``compact_ivfpq_index`` purges tombstoned
    rows physically, recounts, and starts the next generation with an
    empty ledger under the same pointer-flip commit.

    The fixture: the 10 planted near-copies of probe vec 0 dominate the
    top-10; the EVEN five are deleted, and the post-delete top-10 (the
    emitted rows) must surface the odd plants + organics with the dead
    ids absent (computed both sides). The engine then compacts and
    re-queries: ``compact_invariant`` certifies the physical purge did
    not change a single answer row, and
    ``reingest_after_compact_ok`` certifies a purged id becomes
    ingestable again (both pinned TRUE in the oracle — a physical
    rewrite is not SQL-replayable; the engine computes them for real).
    The DuckDB oracle replays the rest from scratch: three Lloyd runs
    on the full corpus, encode, the funnel over the LIVE relation, the
    exact top-10 over live, and the delete bookkeeping."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ingest_ivfpq_delta,
        query_ivfpq_index,
    )
    from neulix_datahub_spark.sources.io import warehouse_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__q")
    )
    plants = qrow.crossJoin(spark.range(1, 11)).select(
        (F.lit(1_000_000) + F.col("id")).alias("vec_id"),
        F.transform(
            "__q", lambda x: x + F.col("id").cast("double") * F.lit(0.002)
        ).alias("embedding"),
    )
    corpus = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        .unionByName(plants)
        .localCheckpoint(eager=True)
    )
    path = f"{warehouse_scratch(spark, '_neulix_ivfpq_del_')}/index"
    build_ivfpq_index(
        corpus,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
    )
    dead = plants.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    st = delete_from_ivfpq_index(spark, dead, path)
    topk, info = query_ivfpq_index(
        spark,
        path,
        qvec,
        k=10,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
    )
    # pin: compaction below deletes the generation these lazy plans
    # read — the emitted rows must come from the PRE-compact evaluation
    topk = topk.localCheckpoint(eager=True)
    rows_before = sorted(map(tuple, topk.collect()))
    dead_in_top = (
        topk.join(dead.withColumnRenamed("vec_id", "id"), "id", "inner")
        .count()
    )
    new_meta = compact_ivfpq_index(spark, path)
    topk2, _ = query_ivfpq_index(
        spark,
        path,
        qvec,
        k=10,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
        with_info=False,  # invariant check wants rows, not the funnel
    )
    compact_invariant = rows_before == sorted(map(tuple, topk2.collect()))
    st2 = ingest_ivfpq_delta(
        spark, plants.filter(F.col("vec_id") == 1_000_002), path
    )
    reingest_ok = st2["n_new"] == 1
    from neulix_datahub_spark.operators.similarity import _cosine_to_literal

    live = corpus.join(dead, "vec_id", "left_anti")
    exact = (
        live.select(
            "vec_id",
            F.round(_cosine_to_literal(F.col("embedding"), qvec), 6).alias(
                "__s"
            ),
        )
        .orderBy(F.desc("__s"), F.asc("vec_id"))
        .limit(10)
        .select(F.col("vec_id").alias("id"), F.lit(1).alias("__e"))
    )
    n_hit = (
        topk.join(exact, "id", "left")
        .agg(F.sum("__e").cast("bigint").alias("h"))
        .first()["h"]
    )
    # rank the k-row shortlist on the driver (bounded collect — no
    # unpartitioned WindowExec over the probe result)
    ranked = ranked_topk(topk, [F.desc("score"), F.asc("id")], 10)
    return ranked.select(
        "rank",
        F.col("id").alias("vec_id"),
        "score",
        F.lit(int(st["n_live"])).cast("long").alias("n_live"),
        F.lit(int(st["n_tombstones"])).cast("long").alias("n_tombstones"),
        F.lit(int(new_meta["n_vecs"])).cast("long").alias(
            "n_vecs_after_compact"
        ),
        F.lit(bool(dead_in_top == 0)).alias("deleted_absent"),
        F.lit(bool(compact_invariant)).alias("compact_invariant"),
        F.lit(bool(reingest_ok)).alias("reingest_after_compact_ok"),
        F.lit(info["n_candidates"]).cast("long").alias("n_candidates"),
        F.lit(info["n_shortlist"]).cast("long").alias("n_shortlist"),
        F.lit(int(n_hit)).cast("long").alias("n_in_exact_top10"),
        (F.lit(int(n_hit)) / F.lit(10.0) >= 0.95).alias("recall_ge_95pct"),
        (
            F.lit(info["n_shortlist"]) < F.lit(info["n_candidates"])
        ).alias("pq_pruned"),
    ).orderBy("rank")


def text_to_index_retrieval_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text→vector→index retrieval (round 12): the full
    pipeline a near-dup retrieval service runs, composed from parts
    that are each already oracle-replayable — planted near-dup corpus
    → ``hashed_embedding_table`` (md5-portable signed hashing, dim 64)
    → ``build_ivfpq_index`` over the hashed vectors →
    ``query_ivfpq_index_batch`` with every 10th original as a probe,
    k=1. The twin (first-token-dropped copy) must come back as the
    top-1 neighbor for every probe; the verdict is COMPUTED on both
    sides (the oracle replays the embedding CTEs, three Lloyd runs
    over the hashed vectors, and the batch probe machinery — nothing
    is pinned)."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index_batch,
    )
    from neulix_datahub_spark.operators.text import hashed_embedding_table
    from neulix_datahub_spark.plans.queries_llm import (
        planted_near_dup_corpus,
    )
    from neulix_datahub_spark.sources.io import warehouse_scratch

    corpus = planted_near_dup_corpus(spark, sf_dir)
    emb = hashed_embedding_table(
        corpus, "text", "doc_id", dim=64, out_col="embedding"
    ).localCheckpoint(eager=True)
    path = f"{warehouse_scratch(spark, '_neulix_txt2idx_')}/index"
    build_ivfpq_index(
        emb,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
        id_col="doc_id",
    )
    probes = emb.filter(
        (F.col("doc_id") < 100) & (F.col("doc_id") % 10 == 0)
    )
    # top_cells=8 (vs the vector fixtures' 4): hashed 64-dim embeddings
    # of 50-token docs quantize coarser than the raw fixture vectors, and
    # at the sf0.001 micro-fixture a 4-cell cut prunes 2 of 10 twins —
    # 8 of 64 cells still prunes the candidate set ~4x
    batch = query_ivfpq_index_batch(
        spark,
        probes,
        path,
        k=1,
        n_probes=4,
        top_cells=8,
    )
    return batch.select(
        "probe_id",
        "neighbor_id",
        "score",
        (
            F.col("neighbor_id") == F.col("probe_id") + 1_000_000
        ).alias("twin_is_top1"),
    ).orderBy("probe_id")


def _text_to_index_oracle_sql(train_on: str = "corpus") -> str:
    """The batch-probe replay over HASHED-EMBEDDING vectors: the shared
    embedding CTE block renames into the (vec_id, v) shape the Lloyd
    builder expects, then the per-probe probe/cell/re-rank machinery of
    _ivfpq_batch_oracle_sql runs verbatim with k=1.

    ``train_on="prior"`` trains every Lloyd run on the ORIGINALS only
    (doc_id < 1e6) while encoding the full corpus under those frozen
    centroids — the streaming twin's lifecycle, where the twins arrive
    as micro-batches after the day-0 build."""
    from neulix_datahub_spark.plans.queries_llm import HASHED_EMB_CTES

    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    dot = (
        "list_sum(list_transform(range(1, len({a})+1),"
        " i -> {a}[i] * {b}[i]))"
    )
    n2 = "list_sum(list_transform({c}, x -> x * x))"
    half = 32
    prior = train_on == "prior"
    g_ctes, g_cent, _ = _lloyd_ctes(
        "g_", "vprior" if prior else "vectors",
        _IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS,
    )
    p0_ctes, p0_cent, _ = _lloyd_ctes(
        "p0_", "psub0" if prior else "sub0", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    p1_ctes, p1_cent, _ = _lloyd_ctes(
        "p1_", "psub1" if prior else "sub1", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    head = [
        "vectors AS (SELECT doc_id AS vec_id, e AS v FROM normed)",
        f"sub0 AS (SELECT vec_id, v[1:{half}] AS v FROM vectors)",
        f"sub1 AS (SELECT vec_id, v[{half + 1}:{2 * half}] AS v"
        " FROM vectors)",
        "pv AS (SELECT vec_id AS probe_id, v FROM vectors"
        " WHERE vec_id < 100 AND vec_id % 10 = 0)",
    ]
    if prior:
        head += [
            "vprior AS (SELECT vec_id, v FROM vectors"
            " WHERE vec_id < 1000000)",
            f"psub0 AS (SELECT vec_id, v[1:{half}] AS v FROM vprior)",
            f"psub1 AS (SELECT vec_id, v[{half + 1}:{2 * half}] AS v"
            " FROM vprior)",
        ]

    def _argmin(src: str, cents: str) -> str:
        return (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v="e.v", c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
        )

    tail = f""",
enc_g AS MATERIALIZED (
    {_argmin("vectors", g_cent)}
),
enc0 AS MATERIALIZED (
    {_argmin("sub0", p0_cent)}
),
enc1 AS MATERIALIZED (
    {_argmin("sub1", p1_cent)}
),
pprobed AS (
    SELECT probe_id, cluster FROM (
        SELECT q.probe_id, c.cluster,
               row_number() OVER (PARTITION BY q.probe_id
                                  ORDER BY {d2.format(v="q.v", c="c.c")},
                                           c.cluster) AS rn
        FROM pv q CROSS JOIN {g_cent} c
    ) WHERE rn <= 4
),
pcells AS (
    SELECT probe_id, c0, c1 FROM (
        SELECT q.probe_id, a.cluster AS c0, b.cluster AS c1,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   ({dot.format(a=f"q.v[1:{half}]", b="a.c")}
                    + {dot.format(a=f"q.v[{half + 1}:{2 * half}]", b="b.c")})
                   / (sqrt({n2.format(c="q.v")})
                      * sqrt({n2.format(c="a.c")} + {n2.format(c="b.c")}))
                   DESC, a.cluster, b.cluster) AS rn
        FROM pv q CROSS JOIN {p0_cent} a CROSS JOIN {p1_cent} b
    ) WHERE rn <= 8
),
shortlist AS (
    SELECT q.probe_id, q.v AS qv, e.vec_id, e.v
    FROM pprobed pr
    JOIN pv q USING (probe_id)
    JOIN enc_g e ON e.cluster = pr.cluster
    JOIN enc0 e0 ON e0.vec_id = e.vec_id
    JOIN enc1 e1 ON e1.vec_id = e.vec_id
    JOIN pcells pc ON pc.probe_id = pr.probe_id
                  AND pc.c0 = e0.cluster AND pc.c1 = e1.cluster
    WHERE e.vec_id <> q.probe_id
)
SELECT probe_id, vec_id AS neighbor_id, score,
       vec_id = probe_id + 1000000 AS twin_is_top1
FROM (
    SELECT probe_id, vec_id,
           round({dot.format(a="v", b="qv")}
                 / (sqrt({n2.format(c="v")})
                    * sqrt({n2.format(c="qv")})), 6) AS score,
           row_number() OVER (PARTITION BY probe_id ORDER BY
               round({dot.format(a="v", b="qv")}
                     / (sqrt({n2.format(c="v")})
                        * sqrt({n2.format(c="qv")})), 6)
               DESC, vec_id) AS rn
    FROM shortlist
) WHERE rn = 1
ORDER BY probe_id"""
    return (
        HASHED_EMB_CTES
        + ", "
        + ",\n".join(head + g_ctes + p0_ctes + p1_ctes)
        + tail
    )


def _ivfpq_batch_oracle_sql() -> str:
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    dot = (
        "list_sum(list_transform(range(1, len({a})+1),"
        " i -> {a}[i] * {b}[i]))"
    )
    n2 = "list_sum(list_transform({c}, x -> x * x))"
    half = 32
    g_ctes, g_cent, _ = _lloyd_ctes(
        "g_", "corpus", _IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS
    )
    p0_ctes, p0_cent, _ = _lloyd_ctes(
        "p0_", "sub0", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    p1_ctes, p1_cent, _ = _lloyd_ctes(
        "p1_", "sub1", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    head = [
        "pv AS (\n  SELECT vec_id AS probe_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n"
        "  FROM embeddings WHERE vec_id % 200 = 0)",
        "corpus AS (\n"
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings\n"
        "  UNION ALL\n"
        "  SELECT 2000000 + pv.probe_id * 100 + t.i,"
        " list_transform(pv.v, x -> x + t.i * 0.002)\n"
        "  FROM pv, range(1, 6) t(i))",
        f"sub0 AS (SELECT vec_id, v[1:{half}] AS v FROM corpus)",
        f"sub1 AS (SELECT vec_id, v[{half + 1}:{2 * half}] AS v FROM corpus)",
    ]

    def _argmin(src: str, cents: str) -> str:
        return (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v="e.v", c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
        )

    tail = f""",
enc_g AS MATERIALIZED (
    {_argmin("corpus", g_cent)}
),
enc0 AS MATERIALIZED (
    {_argmin("sub0", p0_cent)}
),
enc1 AS MATERIALIZED (
    {_argmin("sub1", p1_cent)}
),
pprobed AS (
    SELECT probe_id, cluster FROM (
        SELECT q.probe_id, c.cluster,
               row_number() OVER (PARTITION BY q.probe_id
                                  ORDER BY {d2.format(v="q.v", c="c.c")},
                                           c.cluster) AS rn
        FROM pv q CROSS JOIN {g_cent} c
    ) WHERE rn <= {_IVFPQ_PROBES}
),
pcells AS (
    SELECT probe_id, c0, c1 FROM (
        SELECT q.probe_id, a.cluster AS c0, b.cluster AS c1,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   ({dot.format(a=f"q.v[1:{half}]", b="a.c")}
                    + {dot.format(a=f"q.v[{half + 1}:{2 * half}]", b="b.c")})
                   / (sqrt({n2.format(c="q.v")})
                      * sqrt({n2.format(c="a.c")} + {n2.format(c="b.c")}))
                   DESC, a.cluster, b.cluster) AS rn
        FROM pv q CROSS JOIN {p0_cent} a CROSS JOIN {p1_cent} b
    ) WHERE rn <= {_IVFPQ_TOP_CELLS}
),
shortlist AS (
    SELECT q.probe_id, q.v AS qv, e.vec_id, e.v
    FROM pprobed pr
    JOIN pv q USING (probe_id)
    JOIN enc_g e ON e.cluster = pr.cluster
    JOIN enc0 e0 ON e0.vec_id = e.vec_id
    JOIN enc1 e1 ON e1.vec_id = e.vec_id
    JOIN pcells pc ON pc.probe_id = pr.probe_id
                  AND pc.c0 = e0.cluster AND pc.c1 = e1.cluster
    WHERE e.vec_id <> q.probe_id
),
batch AS (
    SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY
                   round({dot.format(a="v", b="qv")}
                         / (sqrt({n2.format(c="v")})
                            * sqrt({n2.format(c="qv")})), 6)
                   DESC, vec_id) AS rn
        FROM shortlist
    ) WHERE rn <= 5
),
exact AS (
    SELECT probe_id, vec_id FROM (
        SELECT q.probe_id, c.vec_id,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   round({dot.format(a="c.v", b="q.v")}
                         / (sqrt({n2.format(c="c.v")})
                            * sqrt({n2.format(c="q.v")})), 6)
                   DESC, c.vec_id) AS rn
        FROM corpus c, pv q
        WHERE c.vec_id <> q.probe_id
    ) WHERE rn <= 5
),
pairs AS (
    SELECT probe_id, vec_id, max(e) AS e, max(i) AS i FROM (
        SELECT probe_id, vec_id, 1 AS e, 0 AS i FROM exact
        UNION ALL
        SELECT probe_id, vec_id, 0 AS e, 1 AS i FROM batch
    ) GROUP BY probe_id, vec_id
)
SELECT probe_id,
       string_agg(CASE WHEN e = 1 THEN CAST(vec_id AS VARCHAR) END,
                  ',' ORDER BY vec_id) AS exact_top5_ids,
       CAST(sum(e) AS BIGINT) AS n_exact,
       CAST(sum(e * i) AS BIGINT) AS n_in_exact_top5,
       sum(e * i) >= 5 AS batch_recall_full
FROM pairs
GROUP BY probe_id
ORDER BY probe_id"""
    return (
        "WITH "
        + ",\n".join(head + g_ctes + p0_ctes + p1_ctes)
        + tail
    )


def _lloyd_ctes(prefix: str, src: str, k: int, iters: int) -> tuple[list[str], str, str]:
    """Unrolled-Lloyd CTE block over source CTE ``src`` (columns
    ``vec_id, v``) — the _kmeans_oracle_sql recipe parameterized so one
    oracle can run several replays (coarse + both PQ subspaces).
    Returns (ctes, final-centroids name, final-assignment name)."""
    seed_order = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    assign = (
        "SELECT vec_id, v, cluster FROM (\n"
        "    SELECT e.vec_id, e.v, c.cluster,\n"
        "           row_number() OVER (PARTITION BY e.vec_id\n"
        "                              ORDER BY "
        + d2.format(v="e.v", c="c.c")
        + ", c.cluster) AS rn\n"
        f"    FROM {src} e CROSS JOIN {{prev}} c) WHERE rn = 1"
    )
    ctes = [
        f"{prefix}c0 AS (\n  SELECT row_number() OVER (ORDER BY {seed_order})"
        f" - 1 AS cluster, v AS c\n"
        f"  FROM {src} ORDER BY {seed_order} LIMIT {k})"
    ]
    prev = f"{prefix}c0"
    for i in range(1, iters + 1):
        ctes.append(f"{prefix}a{i} AS (\n  " + assign.format(prev=prev) + ")")
        ctes.append(
            f"{prefix}u{i} AS (\n"
            "  SELECT cluster, list(m ORDER BY d) AS c FROM (\n"
            "    SELECT cluster, d, avg(x) AS m FROM (\n"
            f"      SELECT cluster, unnest(v) AS x,"
            f" generate_subscripts(v, 1) AS d FROM {prefix}a{i})\n"
            "    GROUP BY cluster, d)\n"
            "  GROUP BY cluster)"
        )
        ctes.append(
            f"{prefix}c{i} AS (\n  SELECT p.cluster, coalesce(u.c, p.c) AS c\n"
            f"  FROM {prev} p LEFT JOIN {prefix}u{i} u ON p.cluster = u.cluster)"
        )
        prev = f"{prefix}c{i}"
    ctes.append(f"{prefix}afinal AS (\n  " + assign.format(prev=prev) + ")")
    return ctes, prev, f"{prefix}afinal"


def _ivfpq_oracle_sql(
    train_on: str = "corpus",
    lifecycle: bool = False,
    deletes: bool = False,
) -> str:
    """Full IVF-PQ funnel replay. ``train_on`` picks the Lloyd training
    relation: ``"corpus"`` (the one-shot composition) or ``"prior"``
    (the persisted-index lifecycle: codebooks train on the pre-delta
    corpus, FROZEN, then encode prior ∪ delta — exactly what
    build_ivfpq_index + ingest_ivfpq_delta execute). The encode step is
    always over the full corpus with the final centroids, so the same
    tail serves both. ``lifecycle`` adds the ingest bookkeeping columns
    (n_new, n_vecs). ``deletes`` (round 13) replays the tombstone
    lifecycle: the even-numbered plants are deleted, so the funnel and
    the exact side both read the LIVE relation (corpus minus tombstones
    — what the live codes serve), with the delete bookkeeping columns;
    compact_invariant / reingest_after_compact_ok are pinned TRUE (the
    oracle cannot replay a physical rewrite — the engine computes them
    for real and a red row would flag divergence)."""
    half = 32
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    dot = (
        "list_sum(list_transform(range(1, len({a})+1),"
        " i -> {a}[i] * {b}[i]))"
    )
    n2 = "list_sum(list_transform({c}, x -> x * x))"
    g_ctes, g_cent, _ = _lloyd_ctes(
        "g_", train_on, _IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS
    )
    p0_ctes, p0_cent, _ = _lloyd_ctes(
        "p0_", "sub0", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    p1_ctes, p1_cent, _ = _lloyd_ctes(
        "p1_", "sub1", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    head = [
        "qv AS (\n  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings WHERE vec_id = 0)",
        "prior AS (\n"
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings WHERE vec_id <> 0)",
        "corpus AS (\n"
        "  SELECT vec_id, v FROM prior\n"
        "  UNION ALL\n"
        "  SELECT 1000000 + t.i AS vec_id,"
        " list_transform(qv.v, x -> x + t.i * 0.002) AS v\n"
        "  FROM qv, range(1, 11) t(i))",
        f"sub0 AS (SELECT vec_id, v[1:{half}] AS v FROM {train_on})",
        f"sub1 AS (SELECT vec_id, v[{half + 1}:{2 * half}] AS v"
        f" FROM {train_on})",
        "qn AS (\n"
        f"  SELECT sqrt({n2.format(c='v')}) AS n,"
        f" v[1:{half}] AS q0, v[{half + 1}:{2 * half}] AS q1 FROM qv)",
    ]
    if deletes:
        head += [
            "deleted AS (SELECT 1000000 + t.i AS vec_id"
            " FROM range(1, 11) t(i) WHERE t.i % 2 = 0)",
            "live AS (SELECT c.* FROM corpus c WHERE c.vec_id NOT IN"
            " (SELECT vec_id FROM deleted))",
        ]
    read_rel = "live" if deletes else "corpus"

    def _argmin(src: str, vexpr: str, cents: str) -> str:
        return (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v=vexpr, c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
        )

    life_counts = (
        """
           CAST((SELECT count(*) FROM corpus)
                - (SELECT count(*) FROM prior) AS BIGINT) AS n_new,
           CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_vecs,"""
        if lifecycle
        else ""
    )
    life_cols = "c.n_new, c.n_vecs, " if lifecycle else "c.n_corpus, "
    if deletes:
        life_counts = """
           CAST((SELECT count(*) FROM live) AS BIGINT) AS n_live,
           CAST((SELECT count(*) FROM deleted) AS BIGINT)
               AS n_tombstones,
           CAST((SELECT count(*) FROM live) AS BIGINT)
               AS n_vecs_after_compact,
           (SELECT count(*) FROM top JOIN deleted USING (vec_id)) = 0
               AS deleted_absent,"""
        life_cols = (
            "c.n_live, c.n_tombstones, c.n_vecs_after_compact, "
            "c.deleted_absent, TRUE AS compact_invariant, "
            "TRUE AS reingest_after_compact_ok, "
        )
    tail = f""",
enc_g AS (
    {_argmin(read_rel, "e.v", g_cent)}
),
probed AS (
    SELECT cluster FROM {g_cent}, qv
    ORDER BY {d2.format(v="qv.v", c=g_cent + ".c")}, cluster
    LIMIT {_IVFPQ_PROBES}
),
cand AS (
    SELECT a.vec_id, a.v FROM enc_g a
    WHERE a.cluster IN (SELECT cluster FROM probed)
),
cells AS (
    SELECT a.cluster AS c0, b.cluster AS c1,
           ({dot.format(a="qn.q0", b="a.c")}
            + {dot.format(a="qn.q1", b="b.c")})
           / (qn.n * sqrt({n2.format(c="a.c")} + {n2.format(c="b.c")}))
               AS cscore
    FROM {p0_cent} a CROSS JOIN {p1_cent} b, qn
),
kept AS (
    SELECT c0, c1 FROM cells ORDER BY cscore DESC, c0, c1
    LIMIT {_IVFPQ_TOP_CELLS}
),
enc0 AS (
    {_argmin(f"(SELECT vec_id, v[1:{half}] AS v FROM cand)", "e.v", p0_cent)}
),
enc1 AS (
    {_argmin(f"(SELECT vec_id, v[{half + 1}:{2 * half}] AS v FROM cand)",
             "e.v", p1_cent)}
),
coded AS (
    SELECT c.vec_id, c.v, a0.cluster AS c0, a1.cluster AS c1
    FROM cand c
    JOIN enc0 a0 USING (vec_id)
    JOIN enc1 a1 USING (vec_id)
),
shortlist AS (
    SELECT coded.vec_id, coded.v FROM coded JOIN kept USING (c0, c1)
),
rerank AS (
    SELECT s.vec_id,
           round({dot.format(a="s.v", b="qv.v")}
                 / (sqrt({n2.format(c="s.v")}) * qn.n), 6) AS score
    FROM shortlist s, qv, qn
),
top AS (
    SELECT row_number() OVER (ORDER BY score DESC, vec_id) AS rank,
           vec_id, score
    FROM rerank ORDER BY score DESC, vec_id LIMIT 10
),
exact AS (
    SELECT vec_id FROM (
        SELECT c.vec_id,
               round({dot.format(a="c.v", b="qv.v")}
                     / (sqrt({n2.format(c="c.v")}) * qn.n), 6) AS score
        FROM {read_rel} c, qv, qn
        ORDER BY score DESC, c.vec_id LIMIT 10
    )
),
counts AS (
    SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_corpus,{life_counts}
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM shortlist) AS BIGINT) AS n_shortlist,
           CAST((SELECT count(*) FROM top JOIN exact USING (vec_id))
                AS BIGINT) AS n_in_exact_top10
)
SELECT t.rank, t.vec_id, t.score,
       {life_cols}c.n_candidates, c.n_shortlist, c.n_in_exact_top10,
       (c.n_in_exact_top10 / 10.0) >= 0.95 AS recall_ge_95pct,
       c.n_shortlist < c.n_candidates AS pq_pruned
FROM top t, counts c
ORDER BY t.rank"""
    return (
        "WITH "
        + ",\n".join(head + g_ctes + p0_ctes + p1_ctes)
        + tail
    )


_IVFPQ_SQL = _ivfpq_oracle_sql()
_IVFPQ_LIFECYCLE_SQL = _ivfpq_oracle_sql(train_on="prior", lifecycle=True)
_IVFPQ_DELETE_SQL = _ivfpq_oracle_sql(deletes=True)


def ivfpq_residual_search_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 IVFADC (round 12): the persisted index in ``encode=
    'residual'`` mode — PQ codebooks train on and quantize the residual
    ``v − coarse_centroid`` (the classic IVF-PQ refinement: residuals
    are centered, so the same codebook bits buy less reconstruction
    error; the strict inequality vs plain encoding is unit-pinned).
    The approximate score now depends on the (coarse, c0, c1) TRIPLE;
    the cell table is still fixed-size and driver-ranked
    (n_probes·pq_k² entries).

    Emits the composed top-10 plus the funnel counts, the computed
    recall/pruning verdicts, AND the index's total residual
    quantization error (4-dp) — every value replayed by the DuckDB
    oracle: coarse Lloyd, residual construction, two residual-space
    Lloyd runs, the triple-cell ADC cut, the re-rank, and the error
    sum."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        _residual,
        build_ivfpq_index,
        query_ivfpq_index,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.operators.similarity import _cosine_to_literal
    from neulix_datahub_spark.sources.fragstore import open_index
    from neulix_datahub_spark.sources.io import warehouse_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__q")
    )
    planted = qrow.crossJoin(spark.range(1, 11)).select(
        (F.lit(1_000_000) + F.col("id")).alias("vec_id"),
        F.transform(
            "__q", lambda x: x + F.col("id").cast("double") * F.lit(0.002)
        ).alias("embedding"),
    )
    corpus = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        .unionByName(planted)
        .localCheckpoint(eager=True)
    )
    path = f"{warehouse_scratch(spark, '_neulix_ivfadc_')}/index"
    build_ivfpq_index(
        corpus,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
        encode="residual",
    )
    meta = read_ivfpq_meta(path)
    topk, info = query_ivfpq_index(
        spark,
        path,
        qvec,
        k=10,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
    )
    # total residual quantization error from the at-rest codes: the
    # reconstruction is coarse_centroid + codeword pair, so the error
    # is |residual − codewords|² summed over both halves
    half = meta["dim"] // 2
    at_rest = open_index(path, "ivfpq").read(spark, "codes")
    r = _residual(F.col("vec"), F.col("coarse"), meta["coarse_centroids"])
    from neulix_datahub_spark.operators.similarity import (
        const_double_matrix,
    )

    tbl0 = const_double_matrix(meta["codebooks"][0])
    tbl1 = const_double_matrix(meta["codebooks"][1])

    def _d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    err = at_rest.select(
        (
            _d2(F.slice(r, 1, half), F.element_at(tbl0, F.col("c0") + 1))
            + _d2(
                F.slice(r, half + 1, half),
                F.element_at(tbl1, F.col("c1") + 1),
            )
        ).alias("__e")
    ).agg(F.round(F.sum("__e"), 4).alias("e")).first()["e"]

    exact = (
        corpus.select(
            "vec_id",
            F.round(_cosine_to_literal(F.col("embedding"), qvec), 6).alias(
                "__s"
            ),
        )
        .orderBy(F.desc("__s"), F.asc("vec_id"))
        .limit(10)
        .select(F.col("vec_id").alias("id"), F.lit(1).alias("__e"))
    )
    n_hit = (
        topk.join(exact, "id", "left")
        .agg(F.sum("__e").cast("bigint").alias("h"))
        .first()["h"]
    )
    # rank the k-row shortlist on the driver (bounded collect — no
    # unpartitioned WindowExec over the probe result)
    ranked = ranked_topk(topk, [F.desc("score"), F.asc("id")], 10)
    return ranked.select(
        "rank",
        F.col("id").alias("vec_id"),
        "score",
        F.lit(corpus.count()).cast("long").alias("n_corpus"),
        F.lit(info["n_candidates"]).cast("long").alias("n_candidates"),
        F.lit(info["n_shortlist"]).cast("long").alias("n_shortlist"),
        F.lit(int(n_hit)).cast("long").alias("n_in_exact_top10"),
        F.lit(float(err)).alias("quant_err"),
        (F.lit(int(n_hit)) / F.lit(10.0) >= 0.95).alias("recall_ge_95pct"),
        (
            F.lit(info["n_shortlist"]) < F.lit(info["n_candidates"])
        ).alias("pq_pruned"),
    ).orderBy("rank")


def _ivfpq_residual_oracle_sql() -> str:
    half = 32
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    dot = (
        "list_sum(list_transform(range(1, len({a})+1),"
        " i -> {a}[i] * {b}[i]))"
    )
    n2 = "list_sum(list_transform({c}, x -> x * x))"
    g_ctes, g_cent, _ = _lloyd_ctes(
        "g_", "corpus", _IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS
    )
    p0_ctes, p0_cent, _ = _lloyd_ctes(
        "p0_", "rsub0", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    p1_ctes, p1_cent, _ = _lloyd_ctes(
        "p1_", "rsub1", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    head = [
        "qv AS (\n  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings WHERE vec_id = 0)",
        "corpus AS (\n"
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings WHERE vec_id <> 0\n"
        "  UNION ALL\n"
        "  SELECT 1000000 + t.i AS vec_id,"
        " list_transform(qv.v, x -> x + t.i * 0.002) AS v\n"
        "  FROM qv, range(1, 11) t(i))",
        "qn AS (\n"
        f"  SELECT sqrt({n2.format(c='v')}) AS n,"
        f" v[1:{half}] AS q0, v[{half + 1}:{2 * half}] AS q1 FROM qv)",
    ]

    def _argmin(src: str, cents: str) -> str:
        return (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v="e.v", c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
        )

    # the residual relation must sit between the coarse Lloyd and the
    # PQ Lloyds, so splice its CTEs in order
    mid = [
        f"enc_g AS MATERIALIZED (\n  {_argmin('corpus', g_cent)})",
        "residuals AS MATERIALIZED (\n"
        "  SELECT e.vec_id,"
        " list_transform(range(1, len(e.v)+1), i -> e.v[i] - c.c[i]) AS v\n"
        f"  FROM enc_g e JOIN {g_cent} c ON e.cluster = c.cluster)",
        f"rsub0 AS MATERIALIZED (SELECT vec_id, v[1:{half}] AS v"
        " FROM residuals)",
        f"rsub1 AS MATERIALIZED (SELECT vec_id, v[{half + 1}:{2 * half}]"
        " AS v FROM residuals)",
    ]
    tail = f""",
enc0 AS (
    {_argmin("rsub0", p0_cent)}
),
enc1 AS (
    {_argmin("rsub1", p1_cent)}
),
probed AS (
    SELECT cluster FROM {g_cent}, qv
    ORDER BY {d2.format(v="qv.v", c=g_cent + ".c")}, cluster
    LIMIT {_IVFPQ_PROBES}
),
cand AS (
    SELECT a.vec_id, a.v, a.cluster AS gc FROM enc_g a
    WHERE a.cluster IN (SELECT cluster FROM probed)
),
cells AS (
    SELECT g.cluster AS gc, a.cluster AS c0, b.cluster AS c1,
           ({dot.format(a="qv.v", b="g.c")}
            + {dot.format(a="qn.q0", b="a.c")}
            + {dot.format(a="qn.q1", b="b.c")})
           / (qn.n * sqrt({n2.format(c="g.c")}
               + 2 * ({dot.format(a=f"g.c[1:{half}]", b="a.c")}
                      + {dot.format(a=f"g.c[{half + 1}:{2 * half}]", b="b.c")})
               + {n2.format(c="a.c")} + {n2.format(c="b.c")})) AS cscore
    FROM (SELECT gc2.* FROM {g_cent} gc2
          WHERE gc2.cluster IN (SELECT cluster FROM probed)) g
    CROSS JOIN {p0_cent} a CROSS JOIN {p1_cent} b, qv, qn
),
kept AS (
    SELECT gc, c0, c1 FROM cells ORDER BY cscore DESC, gc, c0, c1
    LIMIT {_IVFPQ_TOP_CELLS}
),
coded AS (
    SELECT c.vec_id, c.v, c.gc, a0.cluster AS c0, a1.cluster AS c1
    FROM cand c
    JOIN enc0 a0 USING (vec_id)
    JOIN enc1 a1 USING (vec_id)
),
shortlist AS (
    SELECT coded.vec_id, coded.v FROM coded JOIN kept USING (gc, c0, c1)
),
rerank AS (
    SELECT s.vec_id,
           round({dot.format(a="s.v", b="qv.v")}
                 / (sqrt({n2.format(c="s.v")}) * qn.n), 6) AS score
    FROM shortlist s, qv, qn
),
top AS (
    SELECT row_number() OVER (ORDER BY score DESC, vec_id) AS rank,
           vec_id, score
    FROM rerank ORDER BY score DESC, vec_id LIMIT 10
),
exact AS (
    SELECT vec_id FROM (
        SELECT c.vec_id,
               round({dot.format(a="c.v", b="qv.v")}
                     / (sqrt({n2.format(c="c.v")}) * qn.n), 6) AS score
        FROM corpus c, qv, qn
        ORDER BY score DESC, c.vec_id LIMIT 10
    )
),
qerr AS (
    SELECT round(sum(
        {d2.format(v="r0.v", c="ca.c")} + {d2.format(v="r1.v", c="cb.c")}
    ), 4) AS e
    FROM rsub0 r0
    JOIN rsub1 r1 USING (vec_id)
    JOIN enc0 e0 USING (vec_id)
    JOIN enc1 e1 USING (vec_id)
    JOIN {p0_cent} ca ON e0.cluster = ca.cluster
    JOIN {p1_cent} cb ON e1.cluster = cb.cluster
),
counts AS (
    SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_corpus,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM shortlist) AS BIGINT) AS n_shortlist,
           CAST((SELECT count(*) FROM top JOIN exact USING (vec_id))
                AS BIGINT) AS n_in_exact_top10,
           (SELECT e FROM qerr) AS quant_err
)
SELECT t.rank, t.vec_id, t.score,
       c.n_corpus, c.n_candidates, c.n_shortlist, c.n_in_exact_top10,
       c.quant_err,
       (c.n_in_exact_top10 / 10.0) >= 0.95 AS recall_ge_95pct,
       c.n_shortlist < c.n_candidates AS pq_pruned
FROM top t, counts c
ORDER BY t.rank"""
    return (
        "WITH "
        + ",\n".join(head + g_ctes + mid + p0_ctes + p1_ctes)
        + tail
    )


def _ivfpq_batch_residual_oracle_sql() -> str:
    """Residual-mode batch probing replay (round 13): the
    _ivfpq_batch_oracle_sql per-probe structure with the
    _ivfpq_residual_oracle_sql cell machinery — coarse Lloyd on the
    planted corpus, residual construction, two residual-space Lloyd
    runs, per-probe probed coarse cells, per-probe (coarse, c0, c1)
    triple ranking (the probe-independent cross terms appear as plain
    centroid×codeword dots), the triple-key shortlist join, both
    re-ranks, and the per-probe recall verdict."""
    half = 32
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    dot = (
        "list_sum(list_transform(range(1, len({a})+1),"
        " i -> {a}[i] * {b}[i]))"
    )
    n2 = "list_sum(list_transform({c}, x -> x * x))"
    g_ctes, g_cent, _ = _lloyd_ctes(
        "g_", "corpus", _IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS
    )
    p0_ctes, p0_cent, _ = _lloyd_ctes(
        "p0_", "rsub0", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    p1_ctes, p1_cent, _ = _lloyd_ctes(
        "p1_", "rsub1", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    head = [
        "pv AS (\n  SELECT vec_id AS probe_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n"
        "  FROM embeddings WHERE vec_id % 200 = 0)",
        "corpus AS (\n"
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings\n"
        "  UNION ALL\n"
        "  SELECT 2000000 + pv.probe_id * 100 + t.i,"
        " list_transform(pv.v, x -> x + t.i * 0.002)\n"
        "  FROM pv, range(1, 6) t(i))",
    ]

    def _argmin(src: str, cents: str) -> str:
        return (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v="e.v", c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
        )

    mid = [
        f"enc_g AS MATERIALIZED (\n  {_argmin('corpus', g_cent)})",
        "residuals AS MATERIALIZED (\n"
        "  SELECT e.vec_id,"
        " list_transform(range(1, len(e.v)+1), i -> e.v[i] - c.c[i]) AS v\n"
        f"  FROM enc_g e JOIN {g_cent} c ON e.cluster = c.cluster)",
        f"rsub0 AS MATERIALIZED (SELECT vec_id, v[1:{half}] AS v"
        " FROM residuals)",
        f"rsub1 AS MATERIALIZED (SELECT vec_id, v[{half + 1}:{2 * half}]"
        " AS v FROM residuals)",
    ]
    tail = f""",
enc0 AS MATERIALIZED (
    {_argmin("rsub0", p0_cent)}
),
enc1 AS MATERIALIZED (
    {_argmin("rsub1", p1_cent)}
),
pprobed AS (
    SELECT probe_id, cluster FROM (
        SELECT q.probe_id, c.cluster,
               row_number() OVER (PARTITION BY q.probe_id
                                  ORDER BY {d2.format(v="q.v", c="c.c")},
                                           c.cluster) AS rn
        FROM pv q CROSS JOIN {g_cent} c
    ) WHERE rn <= {_IVFPQ_PROBES}
),
pcells AS (
    SELECT probe_id, gc, c0, c1 FROM (
        SELECT q.probe_id, g.cluster AS gc,
               a.cluster AS c0, b.cluster AS c1,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   ({dot.format(a="q.v", b="g.c")}
                    + {dot.format(a=f"q.v[1:{half}]", b="a.c")}
                    + {dot.format(a=f"q.v[{half + 1}:{2 * half}]", b="b.c")})
                   / (sqrt({n2.format(c="q.v")})
                      * sqrt({n2.format(c="g.c")}
                          + 2 * ({dot.format(a=f"g.c[1:{half}]", b="a.c")}
                                 + {dot.format(a=f"g.c[{half + 1}:{2 * half}]", b="b.c")})
                          + {n2.format(c="a.c")} + {n2.format(c="b.c")}))
                   DESC, g.cluster, a.cluster, b.cluster) AS rn
        FROM pv q
        JOIN pprobed pr ON pr.probe_id = q.probe_id
        JOIN {g_cent} g ON g.cluster = pr.cluster
        CROSS JOIN {p0_cent} a CROSS JOIN {p1_cent} b
    ) WHERE rn <= {_IVFPQ_TOP_CELLS}
),
shortlist AS (
    SELECT q.probe_id, q.v AS qv, e.vec_id, e.v
    FROM pcells pc
    JOIN pv q USING (probe_id)
    JOIN enc_g e ON e.cluster = pc.gc
    JOIN enc0 e0 ON e0.vec_id = e.vec_id AND e0.cluster = pc.c0
    JOIN enc1 e1 ON e1.vec_id = e.vec_id AND e1.cluster = pc.c1
    WHERE e.vec_id <> q.probe_id
),
batch AS (
    SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY
                   round({dot.format(a="v", b="qv")}
                         / (sqrt({n2.format(c="v")})
                            * sqrt({n2.format(c="qv")})), 6)
                   DESC, vec_id) AS rn
        FROM shortlist
    ) WHERE rn <= 5
),
exact AS (
    SELECT probe_id, vec_id FROM (
        SELECT q.probe_id, c.vec_id,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   round({dot.format(a="c.v", b="q.v")}
                         / (sqrt({n2.format(c="c.v")})
                            * sqrt({n2.format(c="q.v")})), 6)
                   DESC, c.vec_id) AS rn
        FROM corpus c, pv q
        WHERE c.vec_id <> q.probe_id
    ) WHERE rn <= 5
),
pairs AS (
    SELECT probe_id, vec_id, max(e) AS e, max(i) AS i FROM (
        SELECT probe_id, vec_id, 1 AS e, 0 AS i FROM exact
        UNION ALL
        SELECT probe_id, vec_id, 0 AS e, 1 AS i FROM batch
    ) GROUP BY probe_id, vec_id
)
SELECT probe_id,
       string_agg(CASE WHEN e = 1 THEN CAST(vec_id AS VARCHAR) END,
                  ',' ORDER BY vec_id) AS exact_top5_ids,
       CAST(sum(e) AS BIGINT) AS n_exact,
       CAST(sum(e * i) AS BIGINT) AS n_in_exact_top5,
       sum(e * i) >= 5 AS batch_recall_full
FROM pairs
GROUP BY probe_id
ORDER BY probe_id"""
    return (
        "WITH "
        + ",\n".join(head + g_ctes + mid + p0_ctes + p1_ctes)
        + tail
    )


def _ivfpq_drift_oracle_sql() -> str:
    """Recall-drift-monitor replay (round 13): three Lloyd runs on the
    BASE corpus, base encode, the base audit funnel (probe/cell
    windows, shortlist, round-6 top-10, exact top-10), then the
    shifted delta encoded under the SAME frozen centroids, the
    post-ingest audit funnel over base ∪ delta, and the amplification
    arithmetic — two full epochs of the batch-probe machinery."""
    d2 = (
        "list_sum(list_transform(range(1, len({v})+1),"
        " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )
    dot = (
        "list_sum(list_transform(range(1, len({a})+1),"
        " i -> {a}[i] * {b}[i]))"
    )
    n2 = "list_sum(list_transform({c}, x -> x * x))"
    half = 32
    g_ctes, g_cent, _ = _lloyd_ctes(
        "g_", "corpus", _IVFPQ_COARSE_K, _IVFPQ_COARSE_ITERS
    )
    p0_ctes, p0_cent, _ = _lloyd_ctes(
        "p0_", "sub0", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    p1_ctes, p1_cent, _ = _lloyd_ctes(
        "p1_", "sub1", _IVFPQ_PQ_K, _IVFPQ_PQ_ITERS
    )
    head = [
        "corpus AS (\n"
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v\n  FROM embeddings)",
        f"sub0 AS (SELECT vec_id, v[1:{half}] AS v FROM corpus)",
        f"sub1 AS (SELECT vec_id, v[{half + 1}:{2 * half}] AS v FROM corpus)",
    ]

    def _argmin(src: str, cents: str) -> str:
        return (
            "SELECT vec_id, v, cluster FROM (\n"
            f"    SELECT e.vec_id, e.v, c.cluster,\n"
            "           row_number() OVER (PARTITION BY e.vec_id\n"
            "                              ORDER BY "
            + d2.format(v="e.v", c="c.c")
            + ", c.cluster) AS rn\n"
            f"    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
        )

    def _funnel(p: str, pv: str, encg: str, enc0: str, enc1: str,
                src: str) -> str:
        score = (
            "round(" + dot.format(a="{l}.v", b="q.v")
            + f"\n                 / (sqrt({n2.format(c='{l}.v')})"
            + f" * sqrt({n2.format(c='q.v')})), 6)"
        )
        return f""",
{p}probed AS (
    SELECT probe_id, cluster FROM (
        SELECT q.probe_id, c.cluster,
               row_number() OVER (PARTITION BY q.probe_id
                                  ORDER BY {d2.format(v="q.v", c="c.c")},
                                           c.cluster) AS rn
        FROM {pv} q CROSS JOIN {g_cent} c
    ) WHERE rn <= {_IVFPQ_PROBES}
),
{p}cells AS (
    SELECT probe_id, c0, c1 FROM (
        SELECT q.probe_id, a.cluster AS c0, b.cluster AS c1,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   ({dot.format(a=f"q.v[1:{half}]", b="a.c")}
                    + {dot.format(a=f"q.v[{half + 1}:{2 * half}]", b="b.c")})
                   / (sqrt({n2.format(c="q.v")})
                      * sqrt({n2.format(c="a.c")} + {n2.format(c="b.c")}))
                   DESC, a.cluster, b.cluster) AS rn
        FROM {pv} q CROSS JOIN {p0_cent} a CROSS JOIN {p1_cent} b
    ) WHERE rn <= {_IVFPQ_TOP_CELLS}
),
{p}short AS (
    SELECT q.probe_id, q.v AS qv, e.vec_id, e.v
    FROM {p}probed pr
    JOIN {pv} q USING (probe_id)
    JOIN {encg} e ON e.cluster = pr.cluster
    JOIN {enc0} e0 ON e0.vec_id = e.vec_id
    JOIN {enc1} e1 ON e1.vec_id = e.vec_id
    JOIN {p}cells pc ON pc.probe_id = pr.probe_id
                    AND pc.c0 = e0.cluster AND pc.c1 = e1.cluster
    WHERE e.vec_id <> q.probe_id
),
{p}top AS (
    SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY
                   round({dot.format(a="v", b="qv")}
                         / (sqrt({n2.format(c="v")})
                            * sqrt({n2.format(c="qv")})), 6)
                   DESC, vec_id) AS rn
        FROM {p}short
    ) WHERE rn <= 10
),
{p}exact AS (
    SELECT probe_id, vec_id FROM (
        SELECT q.probe_id, c.vec_id,
               row_number() OVER (PARTITION BY q.probe_id ORDER BY
                   round({dot.format(a="c.v", b="q.v")}
                         / (sqrt({n2.format(c="c.v")})
                            * sqrt({n2.format(c="q.v")})), 6)
                   DESC, c.vec_id) AS rn
        FROM {src} c, {pv} q
        WHERE c.vec_id <> q.probe_id
    ) WHERE rn <= 10
),
{p}counts AS (
    SELECT (SELECT count(*) FROM {pv}) AS np,
           (SELECT count(*) FROM {p}top t
            JOIN {p}exact x USING (probe_id, vec_id)) AS h,
           (SELECT count(*) FROM {p}exact) AS e,
           (SELECT count(*) FROM {p}short) AS sl
)"""

    mid = [
        f"enc_g AS MATERIALIZED (\n  {_argmin('corpus', g_cent)})",
        f"enc0 AS MATERIALIZED (\n  {_argmin('sub0', p0_cent)})",
        f"enc1 AS MATERIALIZED (\n  {_argmin('sub1', p1_cent)})",
        "delta AS (\n"
        "  SELECT 3000000 + vec_id AS vec_id,"
        " list_transform(v, x -> x + 0.5) AS v\n"
        "  FROM corpus WHERE vec_id % 5 = 2)",
        "corpus2 AS (SELECT * FROM corpus UNION ALL SELECT * FROM delta)",
        f"sub0b AS (SELECT vec_id, v[1:{half}] AS v FROM corpus2)",
        f"sub1b AS (SELECT vec_id, v[{half + 1}:{2 * half}] AS v"
        " FROM corpus2)",
        f"enc2_g AS MATERIALIZED (\n  {_argmin('corpus2', g_cent)})",
        f"enc2_0 AS MATERIALIZED (\n  {_argmin('sub0b', p0_cent)})",
        f"enc2_1 AS MATERIALIZED (\n  {_argmin('sub1b', p1_cent)})",
        "bpv AS (SELECT vec_id AS probe_id, v FROM corpus"
        " WHERE vec_id % 200 = 0)",
        "spv AS (SELECT vec_id AS probe_id, v FROM delta"
        " WHERE (vec_id - 3000000) % 100 = 2)",
    ]
    tail = (
        _funnel("b_", "bpv", "enc_g", "enc0", "enc1", "corpus")
        + _funnel("s_", "spv", "enc2_g", "enc2_0", "enc2_1", "corpus2")
        + """
SELECT CAST(b.np AS BIGINT) AS n_base_probes,
       CAST(b.h AS BIGINT) AS base_hits,
       CAST(b.e AS BIGINT) AS base_exact,
       CAST(b.sl AS BIGINT) AS base_shortlist,
       CAST(s.np AS BIGINT) AS n_shift_probes,
       CAST(s.h AS BIGINT) AS shift_hits,
       CAST(s.e AS BIGINT) AS shift_exact,
       CAST(s.sl AS BIGINT) AS shift_shortlist,
       round(b.h / CAST(b.e AS DOUBLE), 4) AS base_recall,
       round(s.h / CAST(s.e AS DOUBLE), 4) AS shift_recall,
       round((s.sl / CAST(s.np AS DOUBLE))
             / (b.sl / CAST(b.np AS DOUBLE)), 4)
           AS shortlist_amplification,
       (s.sl / CAST(s.np AS DOUBLE))
           / (b.sl / CAST(b.np AS DOUBLE)) >= 2.0 AS drift_detected
FROM b_counts b, s_counts s"""
    )
    return (
        "WITH "
        + ",\n".join(head + g_ctes + p0_ctes + p1_ctes + mid)
        + tail
    )


_IVFPQ_RESIDUAL_SQL = _ivfpq_residual_oracle_sql()
_IVFPQ_BATCH_SQL = _ivfpq_batch_oracle_sql()
_IVFPQ_BATCH_RESIDUAL_SQL = _ivfpq_batch_residual_oracle_sql()
_IVFPQ_DRIFT_SQL = _ivfpq_drift_oracle_sql()
_TEXT_TO_INDEX_SQL = _text_to_index_oracle_sql()
# the streaming twin's batch composition: Lloyd on the PRIOR slice only
_TEXT_TO_INDEX_PRIOR_SQL = _text_to_index_oracle_sql(train_on="prior")


_EMBARGO_CUTOFF = "1997-01-01"
_EMBARGO_DAYS = 90


def time_embargo_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split with a purge gap
    (operators/curation.py time_embargo_split): orders before 1997
    train, a 90-day embargo window is purged from BOTH sides, the rest
    tests — the purged-split discipline that severs overlapping label/
    feature windows across the cutoff. Per split: row count, revenue
    checksum (decimal-exact), and the boundary invariants (max train
    date < cutoff ≤ purged < cutoff+embargo ≤ min test date) as
    hashed verdicts."""
    from neulix_datahub_spark.operators.curation import time_embargo_split

    orders = _t(spark, sf_dir, "orders")
    split = time_embargo_split(
        orders, "o_orderdate", _EMBARGO_CUTOFF, _EMBARGO_DAYS
    )
    lo = F.lit(_EMBARGO_CUTOFF).cast("timestamp")
    hi = lo + F.expr(f"INTERVAL {int(_EMBARGO_DAYS)} DAY")
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("sum_revenue"),
            F.min("o_orderdate").alias("__min"),
            F.max("o_orderdate").alias("__max"),
        )
        .select(
            "split",
            "n_orders",
            "sum_revenue",
            F.when(F.col("split") == "train", F.col("__max") < lo)
            .when(F.col("split") == "purged", (F.col("__min") >= lo) & (F.col("__max") < hi))
            .otherwise(F.col("__min") >= hi)
            .alias("boundaries_ok"),
        )
        .orderBy("split")
    )


_EMBARGO_SQL = f"""
WITH s AS (
    SELECT o_totalprice, o_orderdate,
           CASE WHEN o_orderdate < TIMESTAMP '{_EMBARGO_CUTOFF} 00:00:00' THEN 'train'
                WHEN o_orderdate < TIMESTAMP '{_EMBARGO_CUTOFF} 00:00:00'
                                   + INTERVAL {_EMBARGO_DAYS} DAY THEN 'purged'
                ELSE 'test' END AS split
    FROM orders
)
SELECT split,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_revenue,
       CASE WHEN split = 'train'
            THEN max(o_orderdate) < TIMESTAMP '{_EMBARGO_CUTOFF} 00:00:00'
            WHEN split = 'purged'
            THEN min(o_orderdate) >= TIMESTAMP '{_EMBARGO_CUTOFF} 00:00:00'
                 AND max(o_orderdate) < TIMESTAMP '{_EMBARGO_CUTOFF} 00:00:00'
                     + INTERVAL {_EMBARGO_DAYS} DAY
            ELSE min(o_orderdate) >= TIMESTAMP '{_EMBARGO_CUTOFF} 00:00:00'
                 + INTERVAL {_EMBARGO_DAYS} DAY
       END AS boundaries_ok
FROM s
GROUP BY split
ORDER BY split
"""


_FBLOOM_PROBES = [1, 3, 7]


def file_bloom_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level Bloom data skipping end-to-end (sources/layout.py
    build_file_bloom_index / read_with_file_bloom): events clustered
    into 8 files by user hash, a per-file Bloom index built over
    user_id, and a 3-user point lookup answered by reading ONLY the
    files whose bitmap may contain a probe. Hashed columns: the
    per-user aggregates (count + decimal-exact value sum — Bloom
    negatives are exact, so the pruned read MUST equal the full scan,
    which is what the oracle computes) plus two pruning verdicts the
    oracle pins true: at most one clustered file per probed user (no
    false-positive blowup) and at least one file skipped."""
    from neulix_datahub_spark.sources.io import warehouse_scratch
    from neulix_datahub_spark.sources.layout import (
        build_file_bloom_index,
        read_with_file_bloom,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    root = warehouse_scratch(spark, "neulix_fbloom_")
    ev.repartition(8, "user_id").write.mode("overwrite").parquet(f"{root}/t")
    index = build_file_bloom_index(spark, f"{root}/t", "user_id")
    df, n_total, n_read = read_with_file_bloom(
        spark, index, "user_id", _FBLOOM_PROBES
    )
    return (
        df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            "n_events",
            "sum_value",
            F.lit(n_read <= len(_FBLOOM_PROBES)).alias("pruned_to_clustered_files"),
            F.lit(0 < n_read < n_total).alias("skipped_files"),
        )
        .orderBy("user_id")
    )


_FBLOOM_SQL = f"""
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       true AS pruned_to_clustered_files,
       true AS skipped_files
FROM events
WHERE user_id IN ({", ".join(str(v) for v in _FBLOOM_PROBES)})
GROUP BY user_id
ORDER BY user_id
"""


_PCTS = [0.25, 0.5, 0.75, 0.9, 0.99]


def exact_price_percentiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order-price percentiles with NO global sort
    (operators/profile.py exact_fixed_point_percentiles): money is 2-dp
    fixed point, so a groupBy over the cent DOMAIN (bounded by price
    range, constant as data grows) plus one cumulative sum over that
    bounded domain yields exact quantile_disc-semantics percentiles —
    the 100 TB alternative to both sort-based exact percentiles (full
    range shuffle) and percentile_approx (approximate). Every number is
    integer-derived; the oracle replays the identical cumsum."""
    from neulix_datahub_spark.operators.profile import (
        exact_fixed_point_percentiles,
    )

    orders = _t(spark, sf_dir, "orders")
    return exact_fixed_point_percentiles(orders, "o_totalprice", _PCTS).orderBy("p")


_EXACT_PCT_SQL = f"""
WITH h AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, count(*) AS c
    FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cm FROM h),
n AS (SELECT count(*) AS n FROM orders WHERE o_totalprice IS NOT NULL)
SELECT p,
       (SELECT min(v) FROM cum, n WHERE cm >= CAST(ceil(p * n) AS BIGINT)) / 100.0
           AS value
FROM (VALUES {", ".join(f"({p})" for p in _PCTS)}) t(p)
ORDER BY p
"""


def price_drift_ks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift between the 1995–1997 and 1998+ order-
    price eras, computed EXACTLY on the 2-dp cent domain: per-era cent
    histograms, cumulative counts, and the KS statistic derived by
    integer cross-multiplication — ``max |cumᵣ·n_c − cum_c·nᵣ|`` over
    the merged domain, divided once at the end. Complements the binned
    PSI (`price_drift_psi`): KS is binning-free here because the value
    domain itself is finite. All intermediates are integers, so the
    hashed statistic is bit-identical in any engine."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ref = (
        orders.filter(F.col("o_orderdate") < cut)
        .groupBy(cents.alias("v"))
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    cur = (
        orders.filter(F.col("o_orderdate") >= cut)
        .groupBy(cents.alias("v"))
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    both = ref.join(cur, "v", "full_outer").select(
        "v",
        F.coalesce("cr", F.lit(0)).alias("cr"),
        F.coalesce("cc", F.lit(0)).alias("cc"),
    )
    # bounded grain: window over the fixed-point cent DOMAIN (price range),
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = both.select(
        "v",
        F.sum("cr").over(w).alias("cum_r"),
        F.sum("cc").over(w).alias("cum_c"),
    )
    tot = both.agg(F.sum("cr").alias("nr"), F.sum("cc").alias("nc"))
    diff = cum.crossJoin(tot).select(
        "v",
        F.abs(F.col("cum_r") * F.col("nc") - F.col("cum_c") * F.col("nr")).alias(
            "d"
        ),
        "nr",
        "nc",
    )
    top = diff.orderBy(F.desc("d"), F.asc("v")).limit(1)
    return top.select(
        (F.col("d").cast("double") / (F.col("nr") * F.col("nc"))).alias("ks"),
        (F.col("v") / F.lit(100.0)).alias("at_price"),
        F.col("nr").cast("long").alias("n_ref"),
        F.col("nc").cast("long").alias("n_cur"),
    )


_KS_SQL = """
WITH ref AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, count(*) AS cr
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1
),
cur AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, count(*) AS cc
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1
),
mrg AS (
    SELECT coalesce(ref.v, cur.v) AS v,
           coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
    FROM ref FULL OUTER JOIN cur ON ref.v = cur.v
),
cum AS (
    SELECT v, sum(cr) OVER (ORDER BY v) AS cum_r,
           sum(cc) OVER (ORDER BY v) AS cum_c
    FROM mrg
),
tot AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM mrg),
diff AS (
    SELECT v, abs(cum_r * nc - cum_c * nr) AS d, nr, nc
    FROM cum, tot
)
SELECT CAST(d AS DOUBLE) / (nr * nc) AS ks,
       v / 100.0 AS at_price,
       CAST(nr AS BIGINT) AS n_ref,
       CAST(nc AS BIGINT) AS n_cur
FROM diff
ORDER BY d DESC, v ASC
LIMIT 1
"""


def deletion_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level deletes (sources/deletes.py — the Delta
    deletion-vector / Iceberg positional-delete lifecycle): two delete
    waves append keys to the vector (data files untouched, O(deleted)
    write cost), reads apply them as a broadcast anti-join, then
    compaction folds the vector into one physical rewrite and clears
    it. Hashed: the per-segment survivor aggregate (count + decimal
    balance sum) read through the VECTOR, plus verdicts the oracle pins
    true — the post-compaction plain scan returns the identical
    aggregate, the compaction removed exactly the deleted rows, and the
    vector is gone afterwards."""
    from neulix_datahub_spark.sources.deletes import (
        apply_deletes,
        compact_deletes,
        delete_where,
        write_table,
    )
    from neulix_datahub_spark.sources.io import warehouse_scratch

    root = f"{warehouse_scratch(spark, 'neulix_dv_')}/customer"
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    write_table(cust, root)
    n1 = delete_where(spark, root, "c_custkey", F.col("c_custkey") % 10 == 0)
    n2 = delete_where(spark, root, "c_custkey", F.col("c_acctbal") < 0.0)

    def seg_agg():
        return (
            apply_deletes(spark, root, "c_custkey")
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                _money_sum("c_acctbal").alias("sum_balance"),
            )
        )

    before = {tuple(r) for r in seg_agg().collect()}
    removed = compact_deletes(spark, root, "c_custkey")
    after = {tuple(r) for r in seg_agg().collect()}
    from neulix_datahub_spark.sources.deletes import _vector_files

    # compaction drains the vector by unlinking exactly the FOLDED
    # files (so a delete appended mid-compaction survives); "cleared"
    # means no tombstone data files remain, not that the dir vanished
    vector_gone = _vector_files(f"{root}/_deletes") == []
    return (
        seg_agg()
        .withColumn("compaction_preserves_reads", F.lit(before == after))
        .withColumn("compaction_removed_exactly", F.lit(removed == n1 + n2))
        .withColumn("vector_cleared", F.lit(vector_gone))
        .orderBy("c_mktsegment")
    )


_DV_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_balance,
       true AS compaction_preserves_reads,
       true AS compaction_removed_exactly,
       true AS vector_cleared
FROM customer
WHERE c_custkey % 10 != 0 AND c_acctbal >= 0.0
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


_TOKEN_SECRET = "neulix-vault-demo"  # fixture secret; KMS-backed in deployment


def tokenized_analytics_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tokenization with a reversibility vault
    (operators/privacy.py): c_name is replaced by a keyed sha2 token,
    analytics run on tokens only, and re-identification is a vault
    JOIN, never a computation. Hashed per segment: customer count,
    distinct-token count (must equal distinct raw names — determinism
    means tokenized GROUP BY/DISTINCT answers are byte-identical to
    raw ones), the min token itself (the oracle replays the same
    sha2), and a vault-roundtrip verdict: detokenizing every token
    recovers exactly the original name set."""
    from neulix_datahub_spark.operators.privacy import (
        build_vault,
        detokenize,
        tokenize_columns,
    )

    cust = _t(spark, sf_dir, "customer")
    vault = build_vault(cust, ["c_name"], _TOKEN_SECRET)
    tok = tokenize_columns(cust, ["c_name"], _TOKEN_SECRET)
    back = detokenize(tok, vault, "c_name")
    orig = cust.select("c_custkey", F.col("c_name").alias("__orig"))
    n_mismatch = (
        back.join(orig, "c_custkey")
        .filter(
            F.col("c_name_value").isNull()
            | (F.col("c_name_value") != F.col("__orig"))
        )
        .count()
    )
    roundtrip_ok = n_mismatch == 0  # every token reverses to its raw name
    return (
        tok.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_name").alias("n_distinct_tokens"),
            F.min("c_name").alias("min_token"),
        )
        .withColumn("roundtrip_ok", F.lit(roundtrip_ok))
        .orderBy("c_mktsegment")
    )


_TOKENIZE_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(count(DISTINCT c_name) AS BIGINT) AS n_distinct_tokens,
       min(sha256('{_TOKEN_SECRET}:' || c_name)) AS min_token,
       true AS roundtrip_ok
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def backfill_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-driven idempotent backfill (sources/layout.py
    backfill_partitions — the engine-side form of the reference's
    Airflow schedule catch-up): a date-partitioned events layout is
    seeded with day-of-month % 5 != 0 partitions only; the backfill
    diffs EXPECTED days against the directories on disk, produces just
    the 6 missing days, and lands each via dynamic partition overwrite;
    a second run finds no gaps and does zero work. Hashed: per-day
    event counts of the healed table (must equal the full recompute —
    the oracle) plus verdicts that exactly the %5==0 days were filled
    and the re-run was a no-op."""
    from neulix_datahub_spark.sources.io import warehouse_scratch
    from neulix_datahub_spark.sources.layout import backfill_partitions

    root = f"{warehouse_scratch(spark, 'neulix_backfill_')}/events_by_day"
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    dated = ev.withColumn("event_date", F.to_date("ts"))
    all_days = sorted(
        r.d for r in dated.select(
            F.date_format("event_date", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    seeded = dated.filter(F.dayofmonth("event_date") % 5 != 0)
    seeded.write.mode("overwrite").partitionBy("event_date").parquet(root)

    def producer(s: SparkSession, day: str) -> DataFrame:
        return dated.filter(
            F.col("event_date") == F.lit(day).cast("date")
        )

    first = backfill_partitions(spark, root, "event_date", all_days, producer)
    second = backfill_partitions(spark, root, "event_date", all_days, producer)
    want_filled = [d for d in all_days if int(d[8:10]) % 5 == 0]
    filled_expected = first["filled"] == want_filled
    second_noop = second["filled"] == [] and second["already_present"] == all_days
    return (
        spark.read.parquet(root)
        .groupBy(F.date_format("event_date", "yyyy-MM-dd").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("filled_expected_gaps", F.lit(filled_expected))
        .withColumn("second_run_noop", F.lit(second_noop))
        .orderBy("event_date")
    )


_BACKFILL_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       count(*) AS n_events,
       true AS filled_expected_gaps,
       true AS second_run_noop
FROM events
GROUP BY 1
ORDER BY event_date
"""


_HN_PROBES = [0, 50, 100, 150]
_HN_CEIL = 0.95
_HN_K = 5


def hard_negative_mining_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/similarity.py
    hard_negative_candidates): per probe embedding, the 5 highest-
    cosine neighbors strictly below the 0.95 near-duplicate ceiling —
    the similarity band a contrastive loss wants as negatives. The
    oracle replays the cosine arithmetic, band filter, and ranking in
    SQL; scores round at 6 dp (unit-magnitude dot products — the
    proven-stable tolerance class of cosine_top10)."""
    from neulix_datahub_spark.operators.similarity import hard_negative_candidates

    emb = _t(spark, sf_dir, "embeddings")
    return (
        hard_negative_candidates(
            emb, _HN_PROBES, k=_HN_K, sim_ceiling=_HN_CEIL
        )
        .select("probe_id", "neighbor_id", F.round("score", 6).alias("score"))
        .orderBy("probe_id", F.desc("score"), "neighbor_id")
    )


_HN_SQL = f"""
WITH flat AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
),
q AS (SELECT vec_id AS probe_id, i, v AS qv FROM flat
      WHERE vec_id IN ({", ".join(str(p) for p in _HN_PROBES)})),
scored AS (
    SELECT q.probe_id, f.vec_id AS neighbor_id,
           sum(f.v * q.qv)
             / (sqrt(sum(f.v * f.v)) * sqrt(sum(q.qv * q.qv))) AS score
    FROM flat f JOIN q ON f.i = q.i AND f.vec_id <> q.probe_id
    GROUP BY q.probe_id, f.vec_id
),
banded AS (
    SELECT probe_id, neighbor_id, score,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY score DESC, neighbor_id) AS rn
    FROM scored WHERE score < {_HN_CEIL}
)
SELECT probe_id, neighbor_id, round(score, 6) AS score
FROM banded WHERE rn <= {_HN_K}
ORDER BY probe_id, score DESC, neighbor_id
"""


def partition_freshness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA/freshness monitoring from parquet FOOTERS alone
    (sources/layout.py partition_freshness): events written date-
    partitioned, then every partition's row count and max event time
    read from row-group statistics — zero data scanned, the O(files)
    metadata walk a 100 TB table's staleness dashboard runs every few
    minutes. The hash proves footer stats are trustworthy freshness
    truth: per-day counts and max timestamps must equal the oracle's
    full recompute from the raw table, to the microsecond."""
    from neulix_datahub_spark.sources.io import warehouse_scratch
    from neulix_datahub_spark.sources.layout import (
        partition_freshness,
        write_date_partitioned,
    )

    root = f"{warehouse_scratch(spark, 'neulix_fresh_')}/events_by_day"
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    write_date_partitioned(ev, root, "ts")
    report = partition_freshness(root, "ts")
    return spark.createDataFrame(
        [
            (r["partition"], r["n_rows"], r["max_ts"], r["n_files"] >= 1)
            for r in report
        ],
        "event_date string, n_rows bigint, max_ts timestamp, has_files boolean",
    ).orderBy("event_date")


_FRESHNESS_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       count(*) AS n_rows,
       max(ts) AS max_ts,
       true AS has_files
FROM events
GROUP BY 1
ORDER BY event_date
"""


def evolving_upsert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert under ADDITIVE schema evolution (operators/upsert.py
    upsert_evolving — the legal half of schema change, same contract as
    the mergeSchema read path): a CDC batch for custkey%10==0 carries a
    brand-new loyalty_tier column and +1000.00 balances; untouched rows
    read null for the new column. Hashed per segment: row count,
    decimal-exact balance sum, rows carrying the new column, and its
    distinct values — the oracle replays the merge with CASE
    arithmetic."""
    from neulix_datahub_spark.operators.upsert import upsert_evolving

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal")
    )
    k = F.col("c_custkey")
    updates = cust.filter(k % 10 == 0).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + F.lit("1000.00").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("c_acctbal"),
        F.when(k % 20 == 0, F.lit("gold")).otherwise(F.lit("silver")).alias(
            "loyalty_tier"
        ),
    )
    merged = upsert_evolving(cust, updates, "c_custkey")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal").cast("double").alias("sum_balance"),
            F.count("loyalty_tier").alias("n_with_tier"),
            F.countDistinct("loyalty_tier").alias("n_tiers"),
        )
        .orderBy("c_mktsegment")
    )


_EVOLVE_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))
                + CASE WHEN c_custkey % 10 = 0
                       THEN CAST('1000.00' AS DECIMAL(18,2))
                       ELSE CAST('0.00' AS DECIMAL(18,2)) END) AS DOUBLE)
           AS sum_balance,
       CAST(count(CASE WHEN c_custkey % 10 = 0 THEN 1 END) AS BIGINT)
           AS n_with_tier,
       CAST(count(DISTINCT CASE WHEN c_custkey % 20 = 0 THEN 'gold'
                                WHEN c_custkey % 10 = 0 THEN 'silver' END)
            AS BIGINT) AS n_tiers
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def gram_novelty_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order n-gram NOVELTY — the diversity/redundancy signal a
    curation pipeline ranks on: a document's novelty is the fraction of
    its distinct trigram shingles never seen in any LOWER-id document.
    Computed corpus-parallel, not sequentially: explode distinct grams,
    one groupBy(min(doc_id)) marks each gram's first owner, and a join
    back counts first-owned grams per doc — two bounded shuffles
    regardless of corpus size (the sequential 'have I seen this' scan a
    single-process curator would write is the anti-pattern). Per-lang:
    docs, exact avg novelty as an integer ratio pair (sum of per-doc
    scaled ratios avoids cross-engine float averaging: novelty_ppm =
    integer ⌊1e6·first/total⌋ per doc, summed exactly)."""
    from neulix_datahub_spark.operators.dedupe import _shingles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    grams = docs.select(
        "doc_id", F.explode(_shingles(F.col("text"), 3)).alias("g")
    )
    first_owner = grams.groupBy("g").agg(F.min("doc_id").alias("__first"))
    per_doc = (
        grams.join(first_owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n_grams"),
            F.count_if(F.col("__first") == F.col("doc_id")).alias("__n_first"),
        )
        .select(
            "doc_id",
            F.floor(
                F.lit(1_000_000) * F.col("__n_first") / F.col("__n_grams")
            ).cast("long").alias("__ppm"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ppm").cast("long").alias("sum_novelty_ppm"),
            F.count_if(F.col("__ppm") == 1_000_000).alias("n_fully_novel"),
            F.count_if(F.col("__ppm") == 0).alias("n_fully_redundant"),
        )
        .orderBy("lang")
    )


_NOVELTY_SQL = """
WITH sh AS (
    SELECT doc_id, lang,
           CASE WHEN len(t) >= 3
                THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                    for i in generate_series(1, len(t) - 2)])
                ELSE [array_to_string(t, ' ')] END AS s
    FROM (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS t
        FROM documents
    )
),
grams AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
first_owner AS (SELECT g, min(doc_id) AS first_id FROM grams GROUP BY g),
per_doc AS (
    SELECT doc_id, any_value(lang) AS lang,
           CAST(floor(1000000.0 * count(CASE WHEN first_id = doc_id THEN 1 END)
                      / count(*)) AS BIGINT) AS ppm
    FROM grams JOIN first_owner USING (g)
    GROUP BY doc_id
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ppm) AS BIGINT) AS sum_novelty_ppm,
       CAST(count(CASE WHEN ppm = 1000000 THEN 1 END) AS BIGINT) AS n_fully_novel,
       CAST(count(CASE WHEN ppm = 0 THEN 1 END) AS BIGINT) AS n_fully_redundant
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


def balance_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 breadth: percent_rank and cume_dist (the two rank-to-fraction
    windows the tier had not yet driver-checked) over per-segment
    balance order — emitted for each segment's top-3 customers.
    Both functions are exact integer ratios ((rank-1)/(n-1), the count
    of peers ≤ value / n), so the doubles are engine-identical with no
    rounding. One shuffle on the segment key; frame size is bounded by
    segment cardinality."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("balance"),
            F.row_number().over(w).alias("rk"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("c_mktsegment", "rk")
    )


_RANK_PROFILE_SQL = """
SELECT c_mktsegment, c_custkey,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS balance,
       rk, pct_rank, cume
FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           row_number() OVER w AS rk,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey ASC)
)
WHERE rk <= 3
ORDER BY c_mktsegment, rk
"""


# Epoch strictly BEFORE every order date: day offsets stay positive, so
# DuckDB's truncating // and Spark's flooring division agree (they
# diverge on negatives).
_FISCAL_EPOCH = "1994-12-31"


def fiscal_445_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiscal 4-4-5 reporting (functions/calendars.py): order revenue
    grouped by the retail calendar — 13-week quarters split 4/4/5 so
    every period holds whole weeks — which Gregorian date_trunc cannot
    express. The mapping is pure integer day arithmetic off the epoch,
    so the oracle re-derives it exactly; revenue sums are decimal-
    exact. Emits the first 2 fiscal years (bounded output; the mapping
    itself covers the full range)."""
    from neulix_datahub_spark.functions.calendars import fiscal_445_columns

    orders = _t(spark, sf_dir, "orders")
    cols = fiscal_445_columns("o_orderdate", _FISCAL_EPOCH)
    return (
        orders.select(
            cols["fiscal_year"].alias("fiscal_year"),
            cols["fiscal_quarter"].alias("fiscal_quarter"),
            cols["fiscal_period"].alias("fiscal_period"),
            "o_totalprice",
        )
        .filter(F.col("fiscal_year") <= int(_FISCAL_EPOCH[:4]) + 1)
        .groupBy("fiscal_year", "fiscal_quarter", "fiscal_period")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("fiscal_year", "fiscal_quarter", "fiscal_period")
    )


_FISCAL_SQL = f"""
WITH f AS (
    SELECT o_totalprice,
           date_diff('day', DATE '{_FISCAL_EPOCH}', CAST(o_orderdate AS DATE)) AS day
    FROM orders
),
m AS (
    SELECT o_totalprice,
           CAST({int(_FISCAL_EPOCH[:4])} + (wk // 52) AS INT) AS fiscal_year,
           CAST(((wk % 52) // 13) + 1 AS INT) AS fiscal_quarter,
           CAST(((wk % 52) // 13) * 3
                + CASE WHEN (wk % 52) % 13 < 4 THEN 0
                       WHEN (wk % 52) % 13 < 8 THEN 1 ELSE 2 END + 1
                AS INT) AS fiscal_period
    FROM (SELECT o_totalprice, day // 7 AS wk FROM f)
)
SELECT fiscal_year, fiscal_quarter, fiscal_period,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM m
WHERE fiscal_year <= {int(_FISCAL_EPOCH[:4]) + 1}
GROUP BY 1, 2, 3
ORDER BY fiscal_year, fiscal_quarter, fiscal_period
"""


def epoch_shuffle_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic training order (operators/curation.py
    epoch_order_key): each epoch's order is an independent md5-keyed
    permutation — reproducible with NO RNG state to checkpoint, and
    portable enough that the oracle replays the orders themselves.
    Hashed per epoch: corpus size, the first document under that
    epoch's order, and the count of documents landing on the SAME
    position in epochs 0 and 1 (the near-zero overlap that proves the
    epochs are genuinely different permutations, computed exactly).

    Scale note: corpus-wide positions come from the TWO-PHASE rank
    (operators/sequence.py with_sorted_rank — range-repartition on the
    epoch key + local row_number + broadcast offsets, one pass per
    epoch, joined back on doc_id), so even the verdict's global
    positions avoid a single-partition window; the production
    materialization of an epoch order is export_corpus's
    sortWithinPartitions on the same key — per-shard sorts, no global
    numbering at all."""
    from neulix_datahub_spark.operators.curation import epoch_order_key
    from neulix_datahub_spark.operators.sequence import with_sorted_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    r0 = with_sorted_rank(
        docs, [epoch_order_key("text", 0), F.col("doc_id")], "__r0"
    ).select("doc_id", "__r0")
    r1 = with_sorted_rank(
        docs, [epoch_order_key("text", 1), F.col("doc_id")], "__r1"
    ).select("doc_id", "__r1")
    ranked = r0.join(r1, "doc_id")
    same = ranked.agg(
        F.count_if(F.col("__r0") == F.col("__r1")).alias("n_same_position"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    firsts = ranked.select(
        F.min(F.when(F.col("__r0") == 1, F.col("doc_id"))).alias("f0"),
        F.min(F.when(F.col("__r1") == 1, F.col("doc_id"))).alias("f1"),
    ).agg(F.max("f0").alias("f0"), F.max("f1").alias("f1"))
    return (
        same.crossJoin(firsts)
        .selectExpr(
            "stack(2, 0, f0, 1, f1) AS (epoch, first_doc_id)",
            "n_docs",
            "n_same_position",
        )
        .select("epoch", "first_doc_id", "n_docs", "n_same_position")
        .orderBy("epoch")
    )


_EPOCH_SQL = """
WITH r AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY md5('0:' || COALESCE(text, '')), doc_id) AS r0,
           row_number() OVER (ORDER BY md5('1:' || COALESCE(text, '')), doc_id) AS r1
    FROM documents
),
s AS (
    SELECT count(CASE WHEN r0 = r1 THEN 1 END) AS n_same_position,
           count(*) AS n_docs,
           min(CASE WHEN r0 = 1 THEN doc_id END) AS f0,
           min(CASE WHEN r1 = 1 THEN doc_id END) AS f1
    FROM r
)
SELECT 0 AS epoch, f0 AS first_doc_id, n_docs, CAST(n_same_position AS BIGINT) AS n_same_position FROM s
UNION ALL
SELECT 1, f1, n_docs, CAST(n_same_position AS BIGINT) FROM s
ORDER BY epoch
"""


_HR_RANGES = [("1995-01-01", "1996-12-31"), ("1997-01-01", "2001-12-31")]


def hist_rollup_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT range percentiles from a materialized histogram rollup —
    the quantile analogue of the HLL sketch rollup, except EXACT: money
    is fixed-point, so per-month (month, cent, count) histograms are a
    complete loss-free summary; any date range's exact median/p90 is
    answered by summing the stored histograms in range and walking the
    cumulative counts — the raw orders are never rescanned, and unlike
    percentile sketches there is no error term to budget. Storage is
    O(months × distinct cents) — bounded by the price domain, not row
    count. Hashed: per-range n, exact p50/p90 (quantile_disc
    semantics), against the oracle's from-scratch recompute."""
    from neulix_datahub_spark.sources.io import warehouse_scratch

    root = f"{warehouse_scratch(spark, 'neulix_histroll_')}/monthly_price_hist"
    orders = _t(spark, sf_dir, "orders")
    orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cent"),
    ).agg(F.count(F.lit(1)).alias("cnt")).write.mode("overwrite").parquet(root)
    stored = spark.read.parquet(root)

    outs = []
    for lo, hi in _HR_RANGES:
        hist = (
            stored.filter(
                (F.col("month") >= F.lit(lo).cast("timestamp"))
                & (F.col("month") <= F.lit(hi).cast("timestamp"))
            )
            .groupBy("cent")
            .agg(F.sum("cnt").alias("c"))
        )
        # bounded grain: window over the balance cent DOMAIN, not customers
        w = Window.orderBy("cent").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.withColumn("cum", F.sum("c").over(w))
        n = hist.agg(F.sum("c").alias("n"))
        row = cum.crossJoin(n)
        p50 = row.filter(
            F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n")).cast("long")
        ).agg((F.min("cent") / 100.0).alias("p50"))
        p90 = row.filter(
            F.col("cum") >= F.ceil(F.lit(0.9) * F.col("n")).cast("long")
        ).agg((F.min("cent") / 100.0).alias("p90"))
        outs.append(
            n.crossJoin(p50)
            .crossJoin(p90)
            .select(
                F.lit(f"{lo}..{hi}").alias("range"),
                F.col("n").cast("long").alias("n_orders"),
                "p50",
                "p90",
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs).orderBy("range")


_HIST_ROLLUP_SQL = f"""
WITH r AS (
    SELECT * FROM (VALUES
        {", ".join(f"('{lo}..{hi}', '{lo}', '{hi}')" for lo, hi in _HR_RANGES)}
    ) t(range, lo, hi)
),
h AS (
    SELECT r.range,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cent,
           count(*) AS c
    FROM orders, r
    WHERE date_trunc('month', o_orderdate) >= CAST(r.lo AS TIMESTAMP)
      AND date_trunc('month', o_orderdate) <= CAST(r.hi AS TIMESTAMP)
    GROUP BY 1, 2
),
cum AS (
    SELECT range, cent, c,
           sum(c) OVER (PARTITION BY range ORDER BY cent) AS cum,
           sum(c) OVER (PARTITION BY range) AS n
    FROM h
)
SELECT range,
       CAST(max(n) AS BIGINT) AS n_orders,
       min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN cent END) / 100.0 AS p50,
       min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN cent END) / 100.0 AS p90
FROM cum
GROUP BY range
ORDER BY range
"""


def revenue_delta_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-delta ATTRIBUTION — the "why did revenue change"
    decomposition a BI layer runs after every period close: the 1996 →
    1997 revenue delta split by (segment, priority) cell, each cell's
    exact contribution and its share of the total absolute movement,
    top 8 movers. All arithmetic decimal-exact (sums) or identical-
    double ratios (share = cell |delta| cents / total |delta| cents,
    integer division both engines). One scan, one group-cube, one
    bounded sort."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yr = F.year("o_orderdate")
    cells = (
        orders.filter(yr.isin(1996, 1997))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.sum(
                F.when(yr == 1996, F.col("o_totalprice").cast("decimal(18,2)"))
            ).alias("__r96"),
            F.sum(
                F.when(yr == 1997, F.col("o_totalprice").cast("decimal(18,2)"))
            ).alias("__r97"),
        )
        .select(
            "segment",
            "priority",
            F.coalesce(F.col("__r97"), F.lit(0).cast("decimal(18,2)")).alias("__r97"),
            F.coalesce(F.col("__r96"), F.lit(0).cast("decimal(18,2)")).alias("__r96"),
        )
        .withColumn("__delta_cents", ((F.col("__r97") - F.col("__r96")) * 100).cast("long"))
    )
    total = cells.agg(
        F.sum(F.abs(F.col("__delta_cents"))).cast("long").alias("__tot_abs")
    )
    return (
        cells.crossJoin(total)
        .select(
            "segment",
            "priority",
            (F.col("__delta_cents") / 100.0).alias("delta"),
            (F.col("__delta_cents").cast("double") / F.col("__tot_abs")).alias(
                "share_of_movement"
            ),
        )
        .orderBy(F.desc(F.abs(F.col("delta"))), "segment", "priority")
        .limit(8)
    )


_DELTA_ATTR_SQL = """
WITH cells AS (
    SELECT c_mktsegment AS segment, o_orderpriority AS priority,
           CAST((coalesce(sum(CASE WHEN year(o_orderdate) = 1997
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
            - coalesce(sum(CASE WHEN year(o_orderdate) = 1996
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)) * 100
               AS BIGINT) AS delta_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1, 2
),
tot AS (SELECT sum(abs(delta_cents)) AS tot_abs FROM cells)
SELECT segment, priority,
       delta_cents / 100.0 AS delta,
       CAST(delta_cents AS DOUBLE) / tot_abs AS share_of_movement
FROM cells, tot
ORDER BY abs(delta_cents / 100.0) DESC, segment, priority
LIMIT 8
"""


def cusum_alarm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM change detection (operators/timeseries.py
    grouped_cusum) over the daily event-value series in CENTS: target =
    ⌊mean daily cents⌋, slack 5%, threshold 50% — all integers derived
    from the data identically in both engines, so every accumulator
    step and alarm position replays EXACTLY in the oracle's recursive
    CTE (no IEEE-spelling care needed — the state is integer). Emits
    the full 30-day trace."""
    from neulix_datahub_spark.operators.timeseries import grouped_cusum

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents")
        )
        .withColumn("series", F.lit("all"))
    )
    target = int(
        daily.agg(F.floor(F.avg("cents")).cast("long")).first()[0]
    )
    slack, threshold = target // 20, target // 2
    return (
        grouped_cusum(daily, "series", "day", "cents", target, slack, threshold)
        .select("day", "x", "cusum_hi", "cusum_lo", "alarm")
        .orderBy("day")
    )


_CUSUM_SQL = """
WITH daily AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM events GROUP BY 1
),
params AS (
    SELECT CAST(floor(avg(cents)) AS BIGINT) AS target FROM daily
),
s AS (
    SELECT day, cents, row_number() OVER (ORDER BY day) AS t FROM daily
),
rec AS (
    WITH RECURSIVE r AS (
        SELECT s.day, s.cents, s.t,
               greatest(0, s.cents - (p.target + p.target // 20)) AS hi,
               greatest(0, (p.target - p.target // 20) - s.cents) AS lo
        FROM s, params p WHERE s.t = 1
        UNION ALL
        SELECT s.day, s.cents, s.t,
               greatest(0, r.hi + s.cents - (p.target + p.target // 20)),
               greatest(0, r.lo + (p.target - p.target // 20) - s.cents)
        FROM r JOIN s ON s.t = r.t + 1, params p
    )
    SELECT * FROM r
)
SELECT rec.day, rec.cents AS x,
       CAST(rec.hi AS BIGINT) AS cusum_hi,
       CAST(rec.lo AS BIGINT) AS cusum_lo,
       (rec.hi > p.target // 2 OR rec.lo > p.target // 2) AS alarm
FROM rec, params p
ORDER BY rec.day
"""


def metric_layer_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-layer evaluation (operators/metrics.py): three metrics
    declared ONCE — order count (count), revenue (decimal sum), and
    discount rate (a RATIO: discounted amount over gross amount) —
    evaluated at two grains in one call each. The ratio re-derives from
    sums at every grain (ratio-of-sums), which the oracle recomputes;
    an avg-of-ratios implementation would hash-mismatch whenever group
    sizes differ — exactly the Simpson's-arithmetic bug the layer
    exists to prevent. Both grains' rows union into one result
    (grain column distinguishes)."""
    from neulix_datahub_spark.operators.metrics import Metric, evaluate_metrics

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("__gross"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(4,2)")
        ).alias("__disc_amt"),
    )
    metrics = [
        Metric("n_items", "count"),
        Metric("gross_revenue", "sum", expr=F.col("__gross")),
        Metric("discount_rate", "ratio", num=F.col("__disc_amt"), den=F.col("__gross")),
    ]
    fine = evaluate_metrics(li, metrics, ["l_returnflag", "l_linestatus"]).select(
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("cell"),
        F.lit("flag_status").alias("grain"),
        "n_items",
        F.col("gross_revenue").cast("double").alias("gross_revenue"),
        F.round("discount_rate", 9).alias("discount_rate"),
    )
    coarse = evaluate_metrics(li, metrics, ["l_returnflag"]).select(
        F.col("l_returnflag").alias("cell"),
        F.lit("flag").alias("grain"),
        "n_items",
        F.col("gross_revenue").cast("double").alias("gross_revenue"),
        F.round("discount_rate", 9).alias("discount_rate"),
    )
    return fine.unionByName(coarse).orderBy("grain", "cell")


_METRIC_SQL = """
WITH base AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_extendedprice AS DECIMAL(18,2)) AS gross,
           CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(4,2)) AS disc_amt
    FROM lineitem
)
SELECT l_returnflag || '/' || l_linestatus AS cell, 'flag_status' AS grain,
       count(*) AS n_items,
       CAST(sum(gross) AS DOUBLE) AS gross_revenue,
       round(CAST(sum(disc_amt) AS DOUBLE) / CAST(sum(gross) AS DOUBLE), 9)
           AS discount_rate
FROM base GROUP BY l_returnflag, l_linestatus
UNION ALL
SELECT l_returnflag, 'flag',
       count(*),
       CAST(sum(gross) AS DOUBLE),
       round(CAST(sum(disc_amt) AS DOUBLE) / CAST(sum(gross) AS DOUBLE), 9)
FROM base GROUP BY l_returnflag
ORDER BY grain, cell
"""


def fk_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension repair (operators/quality.py
    quarantine_fk_orphans): plant orphans by hiding every customer with
    custkey % 7 == 0 from the dimension, split orders into clean vs
    quarantined, then 'catch the dimension up' and drain the quarantine
    — the two-phase load a fact pipeline runs instead of dropping or
    crashing on early facts. Hashed: per-phase row counts and decimal
    revenue of each split, plus verdicts that the split is exact
    (clean+quarantined == all) and the drain empties."""
    from neulix_datahub_spark.operators.quality import quarantine_fk_orphans

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    partial_dim = cust.filter(F.col("c_custkey") % 7 != 0)
    clean, quarantined = quarantine_fk_orphans(
        orders, "o_custkey", partial_dim, "c_custkey"
    )
    n_all = orders.count()
    n_clean = clean.count()
    n_quar = quarantined.count()
    drained, still_orphaned = quarantine_fk_orphans(
        quarantined, "o_custkey", cust, "c_custkey"
    )
    n_drained = drained.count()
    n_still = still_orphaned.count()

    def rev(df):
        return df.agg(_money_sum("o_totalprice").alias("r")).first()["r"] or 0.0

    rows = [
        ("clean", n_clean, rev(clean)),
        ("quarantined", n_quar, rev(quarantined)),
        ("drained", n_drained, rev(drained)),
    ]
    return (
        local_relation(spark, rows, "phase string, n_orders bigint, revenue double")
        .withColumn("split_exact", F.lit(n_clean + n_quar == n_all))
        .withColumn("quarantine_drains", F.lit(n_drained == n_quar and n_still == 0))
        .orderBy("phase")
    )


_FK_QUAR_SQL = """
WITH tagged AS (
    SELECT o_totalprice,
           CASE WHEN o_custkey % 7 = 0 THEN 'quarantined' ELSE 'clean' END AS phase
    FROM orders
),
phases AS (
    SELECT phase, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM tagged GROUP BY phase
    UNION ALL
    SELECT 'drained', count(*),
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM tagged WHERE phase = 'quarantined'
)
SELECT phase, n_orders, revenue,
       true AS split_exact, true AS quarantine_drains
FROM phases
ORDER BY phase
"""


def migration_checksum_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system migration validation (operators/quality.py
    portable_table_checksum): the order/partitioning-independent
    content checksum of orders' key columns (money pre-normalized to
    integer cents — float rendering is the one thing engines disagree
    on), computed THREE ways — source table, after a repartition(13)
    rewrite round-trip, and by the DuckDB oracle — all three must
    agree exactly. This is the handshake two systems use to verify a
    copy without co-locating data or agreeing on row order."""
    from neulix_datahub_spark.operators.quality import portable_table_checksum
    from neulix_datahub_spark.sources.io import warehouse_scratch

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cols = ["o_orderkey", "o_orderstatus", "cents"]
    src_sum = portable_table_checksum(orders, cols).first()
    root = f"{warehouse_scratch(spark, 'neulix_mig_')}/copy"
    orders.repartition(13).write.mode("overwrite").parquet(root)
    copy_sum = portable_table_checksum(spark.read.parquet(root), cols).first()
    return local_relation(
        spark,
        [
            (
                src_sum["n_rows"],
                src_sum["content_sum"],
                copy_sum["n_rows"] == src_sum["n_rows"]
                and copy_sum["content_sum"] == src_sum["content_sum"],
            )
        ],
        "n_rows bigint, content_sum string, copy_matches boolean",
    )


_MIG_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST('0x' || substr(
                md5(
                    (CASE WHEN o_orderkey IS NULL THEN '1' ELSE '0' END)
                    || COALESCE(o_orderkey::VARCHAR, '') || chr(31)
                    || (CASE WHEN o_orderstatus IS NULL THEN '1' ELSE '0' END)
                    || COALESCE(o_orderstatus, '') || chr(31)
                    || (CASE WHEN o_totalprice IS NULL THEN '1' ELSE '0' END)
                    || COALESCE(CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR, '')),
                1, 15) AS BIGINT)::HUGEINT) AS VARCHAR) AS content_sum,
       true AS copy_matches
FROM orders
"""


_SEARCH_TERMS = ["spark", "table", "query"]


def keyword_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text retrieval tier (operators/search.py): the inverted
    index as a relation, conjunctive boolean retrieval as semi-join-
    and-count, and BM25 ranking as one join + aggregate — the oracle
    replays tokenization, df/dl statistics, the Robertson idf, and the
    saturation term in SQL. Emits the top 10 docs by 6-dp-rounded BM25
    (deterministic tiebreak on doc_id) for a 3-term query plus the
    AND-match count."""
    from neulix_datahub_spark.operators.search import (
        bm25_rank,
        build_inverted_index,
        conjunctive_search,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # cache the postings: they feed FIVE separate derivations (lengths,
    # the AND count, df stats, the scored join, n_docs/avgdl scalars) —
    # uncached, each one re-tokenizes the corpus (measured 6 full
    # tokenize+groupBy executions). persist() (not localCheckpoint)
    # keeps the LOGICAL plan intact so the registry-wide broadcast-hint
    # audit can still see what is under each hint. At rest the index is
    # a persisted table (stream_index_search_stats) — build once, reuse.
    # Lifecycle: the CacheManager dedupes by canonical plan, so repeated
    # calls over the same corpus reuse ONE cache entry rather than
    # accumulating; the session holds at most one postings cache per
    # distinct corpus — exactly the residency an index should have.
    index = build_inverted_index(docs).persist()
    lengths = index.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n_and = conjunctive_search(index, _SEARCH_TERMS).count()
    ranked = bm25_rank(index, lengths, _SEARCH_TERMS)
    return (
        ranked.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .withColumn("n_and_matches", F.lit(n_and).cast("long"))
    )


_BM25_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(
        trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ')) AS token
    FROM documents
),
idx AS (
    SELECT token, doc_id, count(*) AS tf FROM toks
    WHERE token != '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM idx GROUP BY 1),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
q AS (SELECT unnest({_SEARCH_TERMS!r}) AS token),
dfreq AS (
    SELECT token, count(DISTINCT doc_id) AS df
    FROM idx WHERE token IN (SELECT token FROM q) GROUP BY 1
),
scored AS (
    SELECT i.doc_id,
           sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * i.tf * (1.2 + 1.0)
               / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))) AS score
    FROM idx i
    JOIN dfreq d USING (token)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
    GROUP BY i.doc_id
),
n_and AS (
    SELECT CAST(count(*) AS BIGINT) AS n_and_matches FROM (
        SELECT doc_id FROM idx WHERE token IN (SELECT token FROM q)
        GROUP BY doc_id HAVING count(DISTINCT token) = 3
    )
)
SELECT doc_id, round(score, 6) AS bm25, n_and_matches
FROM scored, n_and
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


_PHRASE = ["table", "hash"]


def phrase_search_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE retrieval over the positional index
    (operators/search.py phrase_search): consecutive-position self-
    joins of each term's postings — hash joins on (doc, aligned
    position), no window, no UDF, each leg reading only its term's
    rows. The oracle takes the textual route instead (occurrence count
    of ' table hash ' in the padded normalized text), so a hash match
    proves the positional algebra against an independent definition of
    'phrase'. Emits every matching doc with its occurrence count."""
    from neulix_datahub_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = build_positional_index(docs)
    return phrase_search(idx, _PHRASE).orderBy("doc_id")


_PHRASE_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS tk
    FROM documents
),
hits AS (
    -- overlap-safe token scan (RE2 has no lookahead; replace() drops
    -- shared-boundary repeats): count every start position whose
    -- consecutive tokens spell the phrase
    SELECT doc_id,
           CAST(len([i for i in generate_series(1, len(tk) - {len(_PHRASE) - 1})
                     if {" AND ".join(f"tk[i + {k}] = '{t}'" for k, t in enumerate(_PHRASE))}])
                AS BIGINT) AS n_occurrences
    FROM tok
)
SELECT doc_id, n_occurrences
FROM hits WHERE n_occurrences > 0
ORDER BY doc_id
"""


def search_index_lifecycle_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted BM25 search index, full lifecycle (round 13 —
    operators/search_index.py, the fifth persisted-index family member
    and the only one whose incremental maintenance is EXACT:
    build(prior)+ingest(delta) == build(prior ∪ delta) bit-identically,
    because postings/dl are per-document facts and df/N/avgdl recompute
    from the live relation per query — no frozen parameters at all).

    The engine builds over 4/5 of the documents, ingests the remaining
    fifth as a delta (fragment commit via sidecar pointer bump),
    tombstone-deletes every ``doc_id % 10 == 3`` document, and answers
    the 3-term BM25 top-10 + AND-match count through the bucket-pruned
    live relation — crc32(token) partition directories, only the query
    terms' buckets ever read. It then compacts (physical purge +
    generation flip) and re-queries: ``compact_invariant`` certifies
    the rewrite changed no answer row, and a purged id re-ingests
    cleanly (both computed in-engine and pinned TRUE in the oracle — a
    physical rewrite is not SQL-replayable). The DuckDB oracle replays
    everything else from scratch over the live corpus: tokenization,
    df/dl statistics, the Robertson idf, the saturation term, the
    AND count, and the delete bookkeeping."""
    from neulix_datahub_spark.operators.search_index import (
        build_search_index,
        compact_search_index,
        conjunctive_search_index,
        delete_from_search_index,
        ingest_search_delta,
        query_search_index,
        read_search_meta,
    )
    from neulix_datahub_spark.sources.io import warehouse_scratch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    path = f"{warehouse_scratch(spark, '_neulix_searchidx_')}/index"
    build_search_index(prior, path)
    ingest_search_delta(spark, delta, path)
    dead = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    st = delete_from_search_index(spark, dead, path)
    frags_before = read_search_meta(path)["n_fragments"]
    # rank the 10-row answer on the driver (bounded collect): this both
    # PINS the pre-compact evaluation (compaction below deletes the
    # generation the lazy plan would read — the collect evaluates now,
    # replacing the old eager localCheckpoint) and avoids the
    # unpartitioned WindowExec the old row_number rank paid
    topk = ranked_topk(
        query_search_index(spark, path, _SEARCH_TERMS)
        .select("doc_id", F.round("score", 6).alias("bm25")),
        [F.desc("bm25"), F.asc("doc_id")],
        10,
    )
    n_and = conjunctive_search_index(spark, path, _SEARCH_TERMS).count()
    rows_before = sorted(
        map(tuple, topk.select("doc_id", "bm25").collect())
    )
    log = compact_search_index(spark, path)
    topk2 = (
        query_search_index(spark, path, _SEARCH_TERMS)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )
    compact_invariant = rows_before == sorted(map(tuple, topk2.collect()))
    reingest_id = dead.agg(F.min("doc_id").alias("m")).first()["m"]
    st2 = ingest_search_delta(
        spark, docs.filter(F.col("doc_id") == reingest_id), path
    )
    return topk.select(
        "rank",
        "doc_id",
        "bm25",
        F.lit(int(n_and)).cast("long").alias("n_and_matches"),
        F.lit(int(st["n_live"])).cast("long").alias("n_live"),
        F.lit(int(st["n_tombstones"])).cast("long").alias("n_tombstones"),
        F.lit(int(log["n_docs"])).cast("long").alias("n_docs_after_compact"),
        F.lit(int(frags_before)).cast("long").alias("fragments_before_compact"),
        F.lit(bool(compact_invariant)).alias("compact_invariant"),
        F.lit(bool(st2["n_new"] == 1)).alias("reingest_after_compact_ok"),
    ).orderBy("rank")


_SEARCH_IDX_SQL = f"""
WITH live AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 != 3
),
toks AS (
    SELECT doc_id, unnest(string_split(
        trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ')) AS token
    FROM live
),
idx AS (
    SELECT token, doc_id, count(*) AS tf FROM toks
    WHERE token != '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM idx GROUP BY 1),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
q AS (SELECT unnest({_SEARCH_TERMS!r}) AS token),
dfreq AS (
    SELECT token, count(DISTINCT doc_id) AS df
    FROM idx WHERE token IN (SELECT token FROM q) GROUP BY 1
),
scored AS (
    SELECT i.doc_id,
           sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * i.tf * (1.2 + 1.0)
               / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))) AS score
    FROM idx i
    JOIN dfreq d USING (token)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
    GROUP BY i.doc_id
),
n_and AS (
    SELECT CAST(count(*) AS BIGINT) AS n_and_matches FROM (
        SELECT doc_id FROM idx WHERE token IN (SELECT token FROM q)
        GROUP BY doc_id HAVING count(DISTINCT token) = {len(_SEARCH_TERMS)}
    )
),
book AS (
    SELECT CAST(count(*) FILTER (WHERE doc_id % 10 != 3) AS BIGINT) AS n_live,
           CAST(count(*) FILTER (WHERE doc_id % 10 = 3) AS BIGINT) AS n_tombstones
    FROM documents
),
topk AS (
    SELECT doc_id, round(score, 6) AS bm25,
           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
    FROM scored
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 10
)
SELECT t.rank, t.doc_id, t.bm25, a.n_and_matches, b.n_live, b.n_tombstones,
       b.n_live AS n_docs_after_compact,
       CAST(2 AS BIGINT) AS fragments_before_compact,
       TRUE AS compact_invariant,
       TRUE AS reingest_after_compact_ok
FROM topk t, n_and a, book b
ORDER BY t.rank
"""


def phrase_index_lifecycle_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase retrieval against the PERSISTED positional family (round
    13, ``operators/search_index.py`` with ``positional=True``): the
    at-rest ``(token, id, pos)`` fragments — bucket-partitioned, NOT
    stopword-filtered (a phrase is a property of consecutive
    positions) — answer the 2-term exact-phrase query through
    consecutive-position self-joins, each leg reading only its term's
    bucket directories. Lifecycle under test: build over 4/5 of the
    documents, positional fragment ingest of the rest, tombstone
    deletes (``doc_id % 7 == 2``) read through the live anti-join. The
    oracle takes the TEXTUAL route over the live corpus (occurrence
    count of consecutive tokens in the normalized token array), so a
    hash match proves the at-rest positional algebra against an
    independent definition of 'phrase' — plus the delete
    bookkeeping."""
    from neulix_datahub_spark.operators.search_index import (
        build_search_index,
        delete_from_search_index,
        ingest_search_delta,
        phrase_search_index,
    )
    from neulix_datahub_spark.sources.io import warehouse_scratch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    path = f"{warehouse_scratch(spark, '_neulix_phraseidx_')}/index"
    build_search_index(prior, path, positional=True)
    ingest_search_delta(spark, delta, path)
    dead = docs.filter(F.col("doc_id") % 7 == 2).select("doc_id")
    st = delete_from_search_index(spark, dead, path)
    return (
        phrase_search_index(spark, path, _PHRASE)
        .select("doc_id", "n_occurrences")
        .withColumn("n_live", F.lit(int(st["n_live"])).cast("long"))
        .withColumn(
            "n_tombstones", F.lit(int(st["n_tombstones"])).cast("long")
        )
        .orderBy("doc_id")
    )


_PHRASE_IDX_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS tk
    FROM documents WHERE doc_id % 7 != 2
),
hits AS (
    SELECT doc_id,
           CAST(len([i for i in generate_series(1, len(tk) - {len(_PHRASE) - 1})
                     if {" AND ".join(f"tk[i + {k}] = '{t}'" for k, t in enumerate(_PHRASE))}])
                AS BIGINT) AS n_occurrences
    FROM tok
),
book AS (
    SELECT CAST(count(*) FILTER (WHERE doc_id % 7 != 2) AS BIGINT) AS n_live,
           CAST(count(*) FILTER (WHERE doc_id % 7 = 2) AS BIGINT) AS n_tombstones
    FROM documents
)
SELECT h.doc_id, h.n_occurrences, b.n_live, b.n_tombstones
FROM hits h, book b WHERE h.n_occurrences > 0
ORDER BY h.doc_id
"""


_SNIPPET_WINDOW = 5


def search_snippets_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result snippets (round 13 — ``operators/search.keyword_snippets``,
    the serving step after retrieval): for every document matching any
    of the 3 query terms, the token window covering the MOST hits
    (anchored at a hit, ties to the earliest anchor — the struct-max
    trick, no window function), plus the hit count and the excerpt
    text sliced from the index's own tokenization. Hits per doc are
    few, so the coverage self-join is hits²-per-doc, never token².
    The DuckDB oracle replays tokenization, the 0-based hit
    positions, every anchored coverage count, the (coverage, earliest)
    argmax, and the snippet slice — strings compared verbatim."""
    from neulix_datahub_spark.operators.search import keyword_snippets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return keyword_snippets(
        docs, _SEARCH_TERMS, window=_SNIPPET_WINDOW
    ).orderBy("doc_id")


_SNIPPET_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS tk
    FROM documents
),
hits AS (
    SELECT doc_id, unnest([i - 1 for i in generate_series(1, len(tk))
                           if list_contains({_SEARCH_TERMS!r}, tk[i])]) AS p
    FROM tok
),
covered AS (
    SELECT a.doc_id, a.p, count(*) AS c
    FROM hits a JOIN hits b
      ON a.doc_id = b.doc_id
     AND b.p >= a.p AND b.p <= a.p + {2 * _SNIPPET_WINDOW}
    GROUP BY 1, 2
),
best AS (
    SELECT doc_id, p, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, p ASC) AS rn,
           count(*) OVER (PARTITION BY doc_id) AS n_hits
    FROM covered
)
SELECT b.doc_id,
       CAST(b.n_hits AS BIGINT) AS n_hits,
       CAST(b.p AS BIGINT) AS anchor_pos,
       CAST(b.c AS BIGINT) AS covered,
       array_to_string(t.tk[b.p + 1 : b.p + 1 + {2 * _SNIPPET_WINDOW}], ' ')
           AS snippet
FROM best b JOIN tok t USING (doc_id)
WHERE b.rn = 1
ORDER BY b.doc_id
"""


_PROX_SLOP = 8


def proximity_search_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR/k retrieval (round 13 — ``search.proximity_spans``): docs
    containing ALL three query terms within a minimal span ≤ 8, plus
    the span and the number of one-occurrence-per-term combinations
    examined. One join leg per term over the positional postings —
    occurrences^k-per-doc, never tokens^k (the phrase_search argument
    with ranges instead of consecutive equality). The oracle mirrors
    the k-way join over unnested hit positions and the min-span
    aggregation exactly."""
    from neulix_datahub_spark.operators.search import (
        build_positional_index,
        proximity_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = build_positional_index(docs)
    return (
        proximity_spans(idx, _SEARCH_TERMS)
        .filter(F.col("min_span") <= _PROX_SLOP)
        .orderBy("doc_id")
    )


_PROX_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS tk
    FROM documents
),
hits AS (
    SELECT doc_id, u.token AS token, u.p AS p FROM (
        SELECT doc_id,
               unnest([{{'token': tk[i], 'p': i - 1}}
                       for i in generate_series(1, len(tk))
                       if list_contains({sorted(set(_SEARCH_TERMS))!r}, tk[i])]) AS u
        FROM tok
    )
),
combos AS (
    SELECT a.doc_id,
           greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p) AS span
    FROM hits a
    JOIN hits b ON a.doc_id = b.doc_id AND b.token = '{sorted(set(_SEARCH_TERMS))[1]}'
    JOIN hits c ON a.doc_id = c.doc_id AND c.token = '{sorted(set(_SEARCH_TERMS))[2]}'
    WHERE a.token = '{sorted(set(_SEARCH_TERMS))[0]}'
)
SELECT doc_id,
       CAST(min(span) AS BIGINT) AS min_span,
       CAST(count(*) AS BIGINT) AS n_combos
FROM combos
GROUP BY doc_id
HAVING min(span) <= {_PROX_SLOP}
ORDER BY doc_id
"""


_LIFT_MIN_SUPPORT = 5


def brand_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association STRENGTH over the market baskets — lift = N·c(a,b) /
    (c(a)·c(b)) — the normalization raw co-occurrence counts
    (copurchased_brand_pairs) lack: popular brands co-occur by volume
    alone, lift > 1 means beyond-chance affinity. All integer counts,
    one division per pair → engine-identical doubles, no rounding.
    Min-support floor keeps the noise pairs out (a 1-basket pair has
    huge, meaningless lift). Top 10 by lift."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_baskets = ob.select("l_orderkey").distinct().count()
    singles = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("c1"))
    l, r = ob.alias("l"), ob.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.l_orderkey") == F.col("r.l_orderkey"))
            & (F.col("l.p_brand") < F.col("r.p_brand")),
        )
        .groupBy(
            F.col("l.p_brand").alias("brand_a"), F.col("r.p_brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _LIFT_MIN_SUPPORT)
    )
    return (
        pairs.join(singles.select(F.col("p_brand").alias("brand_a"), F.col("c1").alias("__ca")), "brand_a")
        .join(singles.select(F.col("p_brand").alias("brand_b"), F.col("c1").alias("__cb")), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            (
                F.lit(n_baskets) * F.col("n_both")
                / (F.col("__ca") * F.col("__cb"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(10)
    )


_LIFT_SQL = f"""
WITH ob AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM ob),
singles AS (SELECT p_brand, count(*) AS c1 FROM ob GROUP BY 1),
pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_both
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    HAVING count(*) >= {_LIFT_MIN_SUPPORT}
)
SELECT brand_a, brand_b, n_both,
       CAST(n.nb * n_both AS DOUBLE) / (sa.c1 * sb.c1) AS lift
FROM pairs
JOIN singles sa ON sa.p_brand = brand_a
JOIN singles sb ON sb.p_brand = brand_b
CROSS JOIN n
ORDER BY lift DESC, brand_a, brand_b
LIMIT 10
"""


def forecast_error_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline EVALUATION over the daily event-value series in
    integer cents: mean absolute error of the naive-1 forecast (ŷ_t =
    y_{t-1}) vs the seasonal-naive-7 (ŷ_t = y_{t-7}), scored only on
    days where both have a history. The errors are sums of |integer
    differences| — exact — and the final MAEs and their ratio (the MASE
    idea: model error relative to a naive baseline) are single
    divisions of exact integers, engine-identical. This is the sanity
    gate any forecasting addition (Holt, seasonal models) must beat
    before it earns pipeline time."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents")
    )
    # bounded grain: window over per-DAY aggregates, not raw rows
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        F.lag("cents", 1).over(w).alias("__l1"),
        F.lag("cents", 7).over(w).alias("__l7"),
    ).filter(F.col("__l7").isNotNull())
    return lagged.agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(F.abs(F.col("cents") - F.col("__l1"))).cast("long").alias("abs_err_naive1"),
        F.sum(F.abs(F.col("cents") - F.col("__l7"))).cast("long").alias("abs_err_seasonal7"),
        (
            F.sum(F.abs(F.col("cents") - F.col("__l7"))).cast("double")
            / F.sum(F.abs(F.col("cents") - F.col("__l1")))
        ).alias("seasonal_vs_naive_ratio"),
    )


_FORECAST_SQL = """
WITH daily AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM events GROUP BY 1
),
lagged AS (
    SELECT cents,
           lag(cents, 1) OVER (ORDER BY day) AS l1,
           lag(cents, 7) OVER (ORDER BY day) AS l7
    FROM daily
)
SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
       CAST(sum(abs(cents - l1)) AS BIGINT) AS abs_err_naive1,
       CAST(sum(abs(cents - l7)) AS BIGINT) AS abs_err_seasonal7,
       CAST(sum(abs(cents - l7)) AS DOUBLE) / sum(abs(cents - l1))
           AS seasonal_vs_naive_ratio
FROM lagged WHERE l7 IS NOT NULL
"""


def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC customer classification — the inventory-management
    classic: rank customers by exact revenue cents, classify by the
    CUMULATIVE share of total revenue (A ≤ 70%, B ≤ 90%, C the tail),
    report each class's size and revenue share. Threshold comparisons
    are integer cross-multiplications (cum·100 vs total·70), so class
    membership is exact — a double cumulative share would wobble at
    the class boundaries. One customer-grain aggregation, then the
    TWO-PHASE cumulative sum (operators/sequence.py
    with_running_total): range-repartition by (revenue desc, custkey),
    local cumsum per range partition, broadcast prefix offsets — no
    single-partition global window, so the cumulative share holds at
    10⁹-customer grain, then one 3-row rollup."""
    from neulix_datahub_spark.operators.sequence import with_running_total

    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    tot = per_cust.agg(F.sum("cents").alias("__t"))
    classed = (
        with_running_total(
            per_cust,
            [F.desc("cents"), F.asc("o_custkey")],
            "cents",
            "__cum",
        )
        .crossJoin(tot)
        .withColumn(
            "abc_class",
            F.when(F.col("__cum") * 100 <= F.col("__t") * 70, "A")
            .when(F.col("__cum") * 100 <= F.col("__t") * 90, "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("cents") / 100.0).alias("revenue"),
            (F.sum("cents").cast("double") / F.max("__t")).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


_ABC_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
classed AS (
    SELECT cents,
           sum(cents) OVER (ORDER BY cents DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cents) OVER () AS t
    FROM per_cust
)
SELECT CASE WHEN cum * 100 <= t * 70 THEN 'A'
            WHEN cum * 100 <= t * 90 THEN 'B'
            ELSE 'C' END AS abc_class,
       count(*) AS n_customers,
       sum(cents) / 100.0 AS revenue,
       CAST(sum(cents) AS DOUBLE) / max(t) AS revenue_share
FROM classed
GROUP BY 1
ORDER BY abc_class
"""


def gini_revenue_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the canonical inequality
    scalar behind the ABC/Pareto view — from the exact integer
    formula over ascending-sorted cents:

        G = (2·Σ i·xᵢ) / (n·Σxᵢ) − (n+1)/n

    Σ i·xᵢ and Σxᵢ are exact integers (i ≤ 15k, xᵢ cents → products
    < 2⁶³ at every fixture SF; at true 100 TB customer counts widen the
    Σ i·xᵢ accumulator to DECIMAL(38,0) — same expression, bigger
    register), so both engines evaluate the identical 4-flop final
    expression on identical inputs — no tolerance. One customer-grain
    aggregate, then TWO-PHASE ranks (operators/sequence.py
    with_sorted_rank: range-repartition + local row_number + broadcast
    prefix offsets — no single-partition global window, so the rank
    assignment holds at 10⁹-customer grain), one reduce."""
    from neulix_datahub_spark.operators.sequence import with_sorted_rank

    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    ranked = with_sorted_rank(
        per_cust, [F.asc("cents"), F.asc("o_custkey")], "__i"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("__i") * F.col("cents")).cast("long").alias("six"),
    )
    return agg.select(
        "n",
        (F.col("sx") / 100.0).alias("total_revenue"),
        (
            (2.0 * F.col("six")) / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n")
        ).alias("gini"),
    )


_GINI_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
    FROM per_cust
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sx,
           CAST(sum(i * cents) AS BIGINT) AS six
    FROM ranked
)
SELECT n,
       sx / 100.0 AS total_revenue,
       (2.0 * six) / (n * sx) - (n + 1.0) / n AS gini
FROM agg
"""


def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curves — the growth-analytics staple the
    retention matrix (cohort_retention) doesn't give: per acquisition
    cohort (first-order year), cumulative revenue per acquired customer
    at each age in years since acquisition. Revenue accumulates as
    exact cents (windowed cumulative sum of integer sums), cohort sizes
    are integers, and LTV-per-customer is one division — engine-
    identical. Emitted for the first 3 cohorts × ages 0-3 (bounded
    output; the derivation covers all)."""
    orders = _t(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort")
    )
    cohort_sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    aged = (
        orders.join(first, "o_custkey")
        .withColumn("age", F.year("o_orderdate") - F.col("cohort"))
        .groupBy("cohort", "age")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        aged.withColumn("cum_cents", F.sum("cents").over(w))
        .join(cohort_sizes, "cohort")
        .filter((F.col("cohort") <= 1997) & (F.col("age") <= 3))
        .select(
            "cohort",
            "age",
            "n_customers",
            (F.col("cum_cents") / 100.0).alias("cum_revenue"),
            (F.col("cum_cents").cast("double") / F.col("n_customers") / 100.0).alias(
                "ltv_per_customer"
            ),
        )
        .orderBy("cohort", "age")
    )


_LTV_SQL = """
WITH first AS (
    SELECT o_custkey, min(year(o_orderdate)) AS cohort
    FROM orders GROUP BY 1
),
sizes AS (SELECT cohort, count(*) AS n_customers FROM first GROUP BY 1),
aged AS (
    SELECT f.cohort, year(o.o_orderdate) - f.cohort AS age,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM orders o JOIN first f USING (o_custkey)
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort, age, sum(cents) OVER (PARTITION BY cohort ORDER BY age
                                         ROWS UNBOUNDED PRECEDING) AS cum_cents
    FROM aged
)
SELECT c.cohort, c.age, s.n_customers,
       c.cum_cents / 100.0 AS cum_revenue,
       CAST(c.cum_cents AS DOUBLE) / s.n_customers / 100.0 AS ltv_per_customer
FROM cum c JOIN sizes s USING (cohort)
WHERE c.cohort <= 1997 AND c.age <= 3
ORDER BY cohort, age
"""


def segment_balance_quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP exact quartiles by the bounded-domain method: customer
    balances in cents, grouped cent-histograms, cumulative counts
    within each segment, smallest cent reaching ⌈p·n⌉ — the grouped
    form of exact_price_percentiles_hist (quantile_disc semantics,
    negative balances ordered naturally, zero error budget, no
    per-group sort of raw rows — the window runs over each segment's
    bounded cent DOMAIN)."""
    # null balances are excluded (standard percentile semantics) — a
    # null cent bucket sorts first in Spark's window but last in most
    # SQL engines, so keeping it would shift every quartile AND make
    # the two engines disagree. Fixture balances are non-null; the
    # filter pins the semantics for real data.
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal").isNotNull())
    hist = cust.groupBy(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cent"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("cent")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("c_mktsegment"))
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("cent"),
            )
        ).alias(name)
        for p, name in [(0.25, "__p25"), (0.5, "__p50"), (0.75, "__p75")]
    ]
    return (
        cum.groupBy("c_mktsegment")
        .agg(F.max("n").cast("long").alias("n_customers"), *picks)
        .select(
            "c_mktsegment",
            "n_customers",
            (F.col("__p25") / 100.0).alias("p25"),
            (F.col("__p50") / 100.0).alias("p50"),
            (F.col("__p75") / 100.0).alias("p75"),
        )
        .orderBy("c_mktsegment")
    )


_SEG_QUART_SQL = """
WITH h AS (
    SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT) AS cent,
           count(*) AS c
    FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1, 2
),
cum AS (
    SELECT c_mktsegment, cent, c,
           sum(c) OVER (PARTITION BY c_mktsegment ORDER BY cent
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY c_mktsegment) AS n
    FROM h
)
SELECT c_mktsegment,
       CAST(max(n) AS BIGINT) AS n_customers,
       min(CASE WHEN cum >= CAST(ceil(0.25 * n) AS BIGINT) THEN cent END) / 100.0 AS p25,
       min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN cent END) / 100.0 AS p50,
       min(CASE WHEN cum >= CAST(ceil(0.75 * n) AS BIGINT) THEN cent END) / 100.0 AS p75
FROM cum
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per year — the growth decomposition
    every revenue review opens with: an order is NEW business iff its
    year is the customer's first-order year. Decimal-exact revenue,
    integer counts, and the new-share an identical-double ratio of
    exact cents."""
    orders = _t(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("__first")
    )
    labeled = orders.join(first, "o_custkey").withColumn(
        "__new", F.year("o_orderdate") == F.col("__first")
    )
    cents = F.sum(
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long")
    return (
        labeled.groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("__new")).alias("n_new_orders"),
            cents.alias("__all_cents"),
            F.sum(
                F.when(
                    F.col("__new"),
                    F.col("o_totalprice").cast("decimal(18,2)") * 100,
                ).otherwise(F.lit(0).cast("decimal(21,0)"))
            )
            .cast("long")
            .alias("__new_cents"),
        )
        .select(
            "year",
            "n_orders",
            "n_new_orders",
            (F.col("__all_cents") / 100.0).alias("revenue"),
            (F.col("__new_cents") / 100.0).alias("new_revenue"),
            (
                F.col("__new_cents").cast("double") / F.col("__all_cents")
            ).alias("new_share"),
        )
        .orderBy("year")
    )


_NEW_RET_SQL = """
WITH first AS (
    SELECT o_custkey, min(year(o_orderdate)) AS f FROM orders GROUP BY 1
),
labeled AS (
    SELECT year(o.o_orderdate) AS year,
           year(o.o_orderdate) = f.f AS is_new,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN first f USING (o_custkey)
)
SELECT year,
       count(*) AS n_orders,
       CAST(count(CASE WHEN is_new THEN 1 END) AS BIGINT) AS n_new_orders,
       sum(cents) / 100.0 AS revenue,
       sum(CASE WHEN is_new THEN cents ELSE 0 END) / 100.0 AS new_revenue,
       CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS DOUBLE)
           / sum(cents) AS new_share
FROM labeled
GROUP BY year
ORDER BY year
"""


def order_frequency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer frequency histogram — how many customers
    placed exactly k orders — plus each bucket's share of customers and
    of orders as identical-double integer ratios. The two-level
    aggregate (count per customer, then count per count) is the
    canonical distribution-of-distribution shape; all integers."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("k"))
    tot = per_cust.agg(
        F.count(F.lit(1)).alias("__nc"), F.sum("k").alias("__no")
    )
    return (
        per_cust.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .crossJoin(tot)
        .select(
            F.col("k").alias("orders_per_customer"),
            "n_customers",
            (F.col("n_customers").cast("double") / F.col("__nc")).alias(
                "customer_share"
            ),
            (
                (F.col("k") * F.col("n_customers")).cast("double") / F.col("__no")
            ).alias("order_share"),
        )
        .orderBy("orders_per_customer")
    )


_ORDER_FREQ_SQL = """
WITH per_cust AS (
    SELECT o_custkey, count(*) AS k FROM orders GROUP BY 1
),
tot AS (SELECT count(*) AS nc, sum(k) AS no FROM per_cust)
SELECT k AS orders_per_customer,
       count(*) AS n_customers,
       CAST(count(*) AS DOUBLE) / max(t.nc) AS customer_share,
       CAST(k * count(*) AS DOUBLE) / max(t.no) AS order_share
FROM per_cust, tot t
GROUP BY k
ORDER BY orders_per_customer
"""


def net_revenue_with_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full TPC-H Q1 money chain — price · (1−discount) · (1+tax) —
    carried as EXACT decimals end-to-end: a 2-dp price times two 2-dp
    fractions is an exact 6-dp decimal, so the per-flag/status charge
    sums are associative and engine-identical (the classic Q1 formula
    is the deepest decimal product chain in the schema; this pins it
    with zero tolerance where the flagship q1 rounds doubles)."""
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit("1.00").cast("decimal(4,2)")
    charge = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (one - F.col("l_discount").cast("decimal(4,2)"))
        * (one + F.col("l_tax").cast("decimal(4,2)"))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(charge).cast("double").alias("sum_charge"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_NET_TAX_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST('1.00' AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_charge
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


SCALE_QUERIES = {
    "order_frequency_histogram": (
        order_frequency_histogram,
        _ORDER_FREQ_SQL,
        "orders-per-customer distribution, integer shares",
    ),
    "net_revenue_with_tax": (
        net_revenue_with_tax,
        _NET_TAX_SQL,
        "Q1 charge chain as exact 6-dp decimals, zero tolerance",
    ),
    "segment_balance_quartiles_exact": (
        segment_balance_quartiles_exact,
        _SEG_QUART_SQL,
        "per-group exact quartiles via bounded cent domains",
    ),
    "new_vs_returning_revenue": (
        new_vs_returning_revenue,
        _NEW_RET_SQL,
        "new-vs-returning revenue split, exact cents and shares",
    ),
    "cohort_ltv_curves": (
        cohort_ltv_curves,
        _LTV_SQL,
        "cohort lifetime-value curves, exact cumulative cents",
    ),
    "gini_revenue_check": (
        gini_revenue_check,
        _GINI_SQL,
        "exact-integer Gini coefficient of customer revenue",
    ),
    "abc_classification": (
        abc_classification,
        _ABC_SQL,
        "Pareto/ABC classes by integer cross-multiplied cumulative shares",
    ),
    "forecast_error_check": (
        forecast_error_check,
        _FORECAST_SQL,
        "naive vs seasonal-naive forecast MAE, exact integer errors",
    ),
    "brand_lift_pairs": (
        brand_lift_pairs,
        _LIFT_SQL,
        "market-basket lift: beyond-chance brand affinity, exact ratios",
    ),
    "phrase_search_check": (
        phrase_search_check,
        _PHRASE_SQL,
        "positional-index phrase retrieval vs textual-occurrence oracle",
    ),
    "keyword_search_bm25": (
        keyword_search_bm25,
        _BM25_SQL,
        "inverted-index boolean retrieval + BM25 ranking vs SQL replay",
    ),
    "migration_checksum_check": (
        migration_checksum_check,
        _MIG_SQL,
        "portable order-independent content checksum, 3-way agreement",
    ),
    "fk_quarantine_stats": (
        fk_quarantine_stats,
        _FK_QUAR_SQL,
        "late-arriving-dimension quarantine + drain lifecycle",
    ),
    "metric_layer_check": (
        metric_layer_check,
        _METRIC_SQL,
        "declared-once metrics at two grains; ratio-of-sums, never averaged",
    ),
    "cusum_alarm_check": (
        cusum_alarm_check,
        _CUSUM_SQL,
        "integer-exact CUSUM change detection vs recursive-CTE replay",
    ),
    "revenue_delta_attribution": (
        revenue_delta_attribution,
        _DELTA_ATTR_SQL,
        "period-over-period metric attribution, decimal-exact movers",
    ),
    "hist_rollup_percentiles": (
        hist_rollup_percentiles,
        _HIST_ROLLUP_SQL,
        "exact range percentiles from stored monthly cent histograms",
    ),
    "epoch_shuffle_check": (
        epoch_shuffle_check,
        _EPOCH_SQL,
        "per-epoch deterministic shuffle: independent md5 permutations",
    ),
    "fiscal_445_revenue": (
        fiscal_445_revenue,
        _FISCAL_SQL,
        "4-4-5 retail-calendar revenue, integer day arithmetic",
    ),
    "balance_rank_profile": (
        balance_rank_profile,
        _RANK_PROFILE_SQL,
        "percent_rank/cume_dist windows, exact integer-ratio doubles",
    ),
    "gram_novelty_stats": (
        gram_novelty_stats,
        _NOVELTY_SQL,
        "corpus-order n-gram novelty, parallel first-owner formulation",
    ),
    "evolving_upsert_stats": (
        evolving_upsert_stats,
        _EVOLVE_SQL,
        "additive schema-evolution upsert vs CASE-replay oracle",
    ),
    "partition_freshness_stats": (
        partition_freshness_stats,
        _FRESHNESS_SQL,
        "footer-stats freshness monitor vs full-recompute oracle",
    ),
    "hard_negative_mining_check": (
        hard_negative_mining_check,
        _HN_SQL,
        "contrastive hard negatives: banded cosine top-k vs SQL replay",
    ),
    "backfill_gap_stats": (
        backfill_gap_stats,
        _BACKFILL_SQL,
        "gap-driven idempotent partition backfill vs full-recompute oracle",
    ),
    "tokenized_analytics_stats": (
        tokenized_analytics_stats,
        _TOKENIZE_SQL,
        "keyed tokenization + vault roundtrip; token analytics vs raw",
    ),
    "deletion_vector_stats": (
        deletion_vector_stats,
        _DV_SQL,
        "merge-on-read deletion vectors + compaction lifecycle",
    ),
    "exact_price_percentiles_hist": (
        exact_price_percentiles_hist,
        _EXACT_PCT_SQL,
        "exact fixed-point percentiles via bounded-domain cumsum, no sort",
    ),
    "price_drift_ks_exact": (
        price_drift_ks_exact,
        _KS_SQL,
        "binning-free exact KS drift on the cent domain",
    ),
    "file_bloom_skipping_stats": (
        file_bloom_skipping_stats,
        _FBLOOM_SQL,
        "per-file Bloom index point-lookup pruning vs full-scan oracle",
    ),
    "time_embargo_split_stats": (
        time_embargo_split_stats,
        _EMBARGO_SQL,
        "purged temporal train/test split with boundary verdicts",
    ),
    "pq_codebook_profile": (
        pq_codebook_profile,
        _PQ_SQL,
        "product quantization: two sliced-subspace Lloyd replays",
    ),
    "ivf_pq_search_check": (
        ivf_pq_search_check,
        _IVFPQ_SQL,
        "IVF-PQ composed retrieval: coarse probe -> ADC cell shortlist "
        "-> exact re-rank, all three stages + funnel counts replayed",
    ),
    "ivfpq_index_lifecycle_check": (
        ivfpq_index_lifecycle_check,
        _IVFPQ_LIFECYCLE_SQL,
        "persisted IVF-PQ index: frozen-codebook delta ingest + "
        "directory-pruned probe, full lifecycle oracle-replayed",
    ),
    "ivfpq_residual_search_check": (
        ivfpq_residual_search_check,
        _IVFPQ_RESIDUAL_SQL,
        "IVFADC residual encoding: triple-cell ADC + quantization-"
        "error sum, coarse+residual Lloyd runs all replayed",
    ),
    "ivfpq_batch_recall_check": (
        ivfpq_batch_recall_check,
        _IVFPQ_BATCH_SQL,
        "batch probes vs the at-rest IVF-PQ index in one job: "
        "per-probe coarse/cell windows + cell-key join replayed",
    ),
    "ivfpq_batch_residual_check": (
        ivfpq_batch_residual_check,
        _IVFPQ_BATCH_RESIDUAL_SQL,
        "residual-mode (IVFADC) batch probing: per-probe triple-cell "
        "ranking + triple-key shortlist join, all stages replayed",
    ),
    "ivfpq_recall_drift_check": (
        ivfpq_recall_drift_check,
        _IVFPQ_DRIFT_SQL,
        "frozen-codebook drift monitor: recall + shortlist "
        "amplification before/after a shifted delta, both audits "
        "fully replayed",
    ),
    "ivfpq_delete_lifecycle_check": (
        ivfpq_delete_lifecycle_check,
        _IVFPQ_DELETE_SQL,
        "tombstone deletes: post-delete funnel over the live relation "
        "replayed; compact purge + reingest certified in-engine",
    ),
    "text_to_index_retrieval_check": (
        text_to_index_retrieval_check,
        _TEXT_TO_INDEX_SQL,
        "end-to-end text -> hashed embedding -> IVF-PQ index -> "
        "batch retrieval; twin-is-top1 computed both sides",
    ),
    "k_anonymity_customers": (
        k_anonymity_customers,
        _KANON_SQL,
        "k-anonymity release check over a quasi-identifier histogram",
    ),
    "cached_query_stats": (
        cached_query_stats,
        _CACHED_SQL,
        "plan-fingerprint result cache: miss→publish, hit→no republish",
    ),
    "prefix_filter_pairs": (
        prefix_filter_pairs,
        _PF_SQL,
        "exact PPJoin-style similarity join vs brute-force oracle",
    ),
    "grouped_cov_check": (
        grouped_cov_check,
        _GROUPED_COV_SQL,
        "applyInArrow grouped covariance vs covar_pop oracle",
    ),
    "capped_contribution_stats": (
        capped_contribution_stats,
        _CAPPED_SQL,
        "bounded per-user contribution, distortion quantified",
    ),
    "promo_window_revenue": (
        promo_window_revenue,
        _PROMO_SQL,
        "range join: bucketed equi-join decomposition vs BETWEEN oracle",
    ),
    "incremental_agg_check": (
        incremental_agg_check,
        _INCR_AGG_SQL,
        "materialized-agg maintenance from a pre-image change feed",
    ),
    "zorder_bucket_stats": (
        zorder_bucket_stats,
        _ZORDER_SQL,
        "Morton interleave bit-exact vs an unrolled-shift oracle",
    ),
    "priority_sample_check": (
        priority_sample_check,
        _PS_SQL,
        "DLT weighted sampling, cross-engine-deterministic draw",
    ),
    "window_coverage_revenue": (
        window_coverage_revenue,
        _COVERAGE_SQL,
        "sweep-line coverage depth vs a correlated-count oracle",
    ),
    "schema_drift_stats": (
        schema_drift_stats,
        _DRIFT_SQL,
        "additive schema drift unified by mergeSchema, null-fill proven",
    ),
    "mixture_resample_plan": (
        mixture_resample_plan,
        _MIXTURE_SQL,
        "sqrt-temperature mixture targets, largest-remainder exact",
    ),
    "lexicon_filter_stats": (
        lexicon_filter_stats,
        _LEXICON_SQL,
        "word-list quarantine rates, expression-level tokenize",
    ),
    "key_skew_profile_events": (
        key_skew_profile_events,
        _SKEW_PROFILE_SQL,
        "join/agg-key skew diagnostics from one histogram pass",
    ),
    "search_index_lifecycle_check": (
        search_index_lifecycle_check,
        _SEARCH_IDX_SQL,
        "persisted BM25 index: exact incremental ingest + tombstone "
        "deletes + bucket-pruned retrieval, scoring fully replayed; "
        "compact purge + reingest certified in-engine",
    ),
    "phrase_index_lifecycle_check": (
        phrase_index_lifecycle_check,
        _PHRASE_IDX_SQL,
        "persisted positional family: at-rest phrase algebra vs the "
        "textual occurrence oracle over the live corpus",
    ),
    "search_snippets_check": (
        search_snippets_check,
        _SNIPPET_SQL,
        "max-coverage result snippets: anchored hit windows + "
        "struct-max argmax + excerpt slice, all replayed verbatim",
    ),
    "proximity_search_check": (
        proximity_search_check,
        _PROX_SQL,
        "NEAR/k: minimal span over per-term join legs, k-way hit "
        "join + min-span aggregation mirrored in the oracle",
    ),
}
